"""Driver-side oracle tables for the BEL pipeline queries.

The driver's correctness gate runs each Spark query against an ANSI-SQL
DuckDB oracle.  The parse UDF itself has no SQL twin, but everything
downstream of it (explode, edge dedup, node dedup, validation joins) is
relational — so we materialize narrow projections of the parsed corpus to
parquet ONCE, driver-side with pandas/pyarrow (deterministic, no Spark
dependency, so the files exist no matter which side the driver evaluates
first), and let BOTH the Spark query and the DuckDB oracle read them:

- Spark re-parses the corpus distributed (mapInPandas) and aggregates with
  DataFrame algebra; the oracle aggregates the pandas-parsed parquet with
  plain SQL.  A mismatch flags either a parse-path divergence or a wrong
  aggregation — exactly the two things worth checking.
- For the validation query the Spark side reads the SAME parquet, so the
  check compares two independent implementations of the validation
  relational logic (DataFrame joins vs SQL) on identical input.

Mirrors the reference's test strategy of asserting graph counts from
/root/reference/tests/test_manager/true_values.py over a fixed fixture.
"""

from __future__ import annotations

import json
import os

import pandas as pd

ORACLE_FILES = 200
ORACLE_STMTS = 30
# bump the version segment whenever the corpus generator or the projected
# columns change — the marker file only guards against partial writes
ORACLE_BASE = f"/tmp/ebel_spark_oracle_v6/c{ORACLE_FILES}x{ORACLE_STMTS}"
_MARKER = "_ORACLE_READY"


def ensure_oracle_tables(base: str = ORACLE_BASE) -> str:
    """Build the oracle parquet tables if absent; returns the base dir."""
    if os.path.exists(os.path.join(base, _MARKER)):
        return base

    import hashlib

    from .belc.scriptproc import process_file
    from .corpus import CorpusProfile, corpus_pandas
    from .namespaces import build_dimensions

    profile = CorpusProfile(n_files=ORACLE_FILES,
                            statements_per_file=ORACLE_STMTS)
    src = corpus_pandas(profile)

    st_rows, node_rows, entry_rows, def_rows = [], [], [], []
    err_rows = []
    for row in src.itertuples(index=False):
        sha = hashlib.sha256(row.content.encode()).hexdigest()
        r = process_file(row.content)
        # syntax errors are recorded for EVERY file (they are what makes a
        # file not-ok); the relational projections below only for ok files,
        # mirroring parse.statements_table(parsed.filter("ok"))
        for e in r["syntax_errors"]:
            err_rows.append({
                "file_sha": sha, "error_class": e["error_class"],
                "entry": e["entry"], "line": e["line"],
                "col": e["column"], "hint": e["hint"],
            })
        if not r["ok"]:
            continue
        for s in r["statements"]:
            st_rows.append({
                "file_sha": sha, "stmt_idx": s["stmt_idx"],
                "subject_bel": s["subject_bel"],
                "subject_class": s["subject_class"],
                "relation": s["relation"],
                "relation_category": s["relation_category"],
                "object_bel": s["object_bel"],
                "object_class": s["object_class"],
                "nested": s["nested"],
                "citation_type": s["citation_type"],
                "citation_ref": s["citation_ref"],
                "citation_pub_date": s["citation_pub_date"],
                "evidence": s["evidence"],
                "anno_json": json.dumps(s["annotation"], sort_keys=True,
                                        separators=(",", ":")),
                "pmid": s["pmid"],
                "edge_key": s["edge_key"],
            })
        for n in r["nodes"]:
            node_rows.append({
                "file_sha": sha, "node_class": n["node_class"],
                "bel": n["bel"], "namespace": n["namespace"],
                "name": n["name"],
            })
        for kind, ents in (("ns", r["ns_entries"]),
                           ("anno", r["anno_entries"])):
            for e in ents:
                entry_rows.append({
                    "file_sha": sha, "kind": kind, "keyword": e["keyword"],
                    "entry": e["entry"], "line": e["line"], "col": e["col"],
                })
        for d in r["definitions"]:
            def_rows.append({
                "file_sha": sha,
                "kind": "anno" if d["is_annotation"] else "ns",
                "keyword": d["keyword"], "def_type": d["def_type"],
                "value": d["value"], "value_list": d["value_list"],
                "line": d["line"],
            })

    dims = build_dimensions()
    os.makedirs(base, exist_ok=True)
    tables = {
        "statements": pd.DataFrame(st_rows),
        "nodes_raw": pd.DataFrame(node_rows),
        "entries": pd.DataFrame(entry_rows),
        "errors": pd.DataFrame(
            err_rows, columns=["file_sha", "error_class", "entry", "line",
                               "col", "hint"]),
        "defs": pd.DataFrame(def_rows),
        "ns_dict": dims.namespace_entries,
        "anno_dict": dims.annotation_entries,
    }
    for name, pdf in tables.items():
        d = os.path.join(base, name)
        os.makedirs(d, exist_ok=True)
        # Int64 (nullable) so parquet carries int64-with-nulls, matching the
        # long columns Spark writes for the same data
        for c in pdf.columns:
            if pdf[c].dtype == "float64" and name == "statements":
                pdf[c] = pdf[c].astype("Int64")
        pdf.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(base, _MARKER), "w") as fd:
        fd.write("ok")
    return base


# ---------------------------------------------------------------------------
# deterministic random-walk oracle helper
# ---------------------------------------------------------------------------

#: walk parameters shared by graph.random_walks's contract query and its
#: DuckDB oracle (bel_random_walks)
WALKS_PER_NODE = 2
WALK_LEN = 3
_WALKS_MARKER = "_WALKS_READY"


def ensure_walk_tables(base: str = ORACLE_BASE) -> str:
    """Hash helper for the deterministic random-walk oracle: for every KG
    edge (u, v), walk index w and step t, the Spark-identical selection
    hash xxhash64("u|w|t|v").  The walk op picks, from node u at step t of
    walk w, the neighbor v with the smallest (hash, v) — so the DuckDB
    oracle can unroll the walk as WALK_LEN min-selection joins over this
    table, with no hash evaluation inside SQL.

    Domain is edges x walks x steps (NOT walks' states), so the table is
    linear in |E| and independent of where walks actually go."""
    ensure_oracle_tables(base)
    if os.path.exists(os.path.join(base, _WALKS_MARKER)):
        return base

    from .oracle_xxh import spark_xxhash64_str

    st = pd.read_parquet(
        os.path.join(base, "statements"),
        columns=["subject_bel", "object_bel", "edge_key", "nested"])
    st = st[st["edge_key"].notna() & ~st["nested"]]
    edges = sorted(set(zip(st["subject_bel"], st["object_bel"])))
    rows = [
        {"u": u, "w": w, "t": t, "v": v,
         "h": spark_xxhash64_str(f"{u}|{w}|{t}|{v}")}
        for (u, v) in edges
        for w in range(WALKS_PER_NODE)
        for t in range(WALK_LEN)
    ]
    d = os.path.join(base, "walk_hashes")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows, columns=["u", "w", "t", "v", "h"]).astype(
        {"w": "int32", "t": "int32", "h": "int64"}).to_parquet(
        os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(base, _WALKS_MARKER), "w") as fd:
        fd.write("ok")
    return base


# ---------------------------------------------------------------------------
# entity-linking / pathway-enrichment oracle dims
# ---------------------------------------------------------------------------

# versioned: a base whose link tables predate uniprot_acc must be rebuilt
_LINK_MARKER = "_LINK_READY_v2"


def uniprot_link_tables(uniprot: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The two UniProt dim projections link.link_uniprot resolves against:

    - uniprot_first (taxid, symbol, accession): min accession per
      (taxid, symbol) — the deterministic "first" for symbol matches
    - uniprot_acc (accession): every distinct accession of the FULL dim —
      the UNIPROT-namespace passthrough matches any accession, not only
      the first one per symbol
    """
    first = (uniprot.sort_values("accession")
             .groupby(["taxid", "gene_symbol"], as_index=False).first()
             .rename(columns={"gene_symbol": "symbol"})
             [["taxid", "symbol", "accession"]])
    return {"uniprot_first": first,
            "uniprot_acc": uniprot[["accession"]].drop_duplicates()}


def ensure_link_tables(base: str = ORACLE_BASE) -> str:
    """Dim projections for the linking/enrichment SQL twins, with the two
    DETERMINISM RULES the Spark chain applies baked in driver-side (so
    the SQL re-runs only the corpus-dependent relational steps):

    - hgnc_sym (symbol): direct-match membership
    - hgnc_prev (prev, symbol): prev-symbol correction map, deduped by
      min (symbol, label, location) per prev — link.link_hgnc's
      row_number rule
    - uniprot_first, uniprot_acc: see uniprot_link_tables
    - reactome: the synthetic UniProt2Reactome membership file
      (namespaces.build_reactome)
    """
    ensure_oracle_tables(base)
    if os.path.exists(os.path.join(base, _LINK_MARKER)):
        return base

    from .namespaces import build_dimensions, build_intact, build_reactome

    dims = build_dimensions()

    prev_rows = []
    for rec in dims.hgnc.itertuples(index=False):
        for pv in rec.prev_symbols:
            prev_rows.append({"prev": pv, "symbol": rec.symbol,
                              "label": rec.label,
                              "location": rec.location})
    prev = (pd.DataFrame(prev_rows,
                         columns=["prev", "symbol", "label", "location"])
            .sort_values(["prev", "symbol", "label", "location"])
            .groupby("prev", as_index=False).first()[["prev", "symbol"]])

    tables = {
        "hgnc_sym": dims.hgnc[["symbol"]],
        "hgnc_prev": prev,
        **uniprot_link_tables(dims.uniprot),
        "reactome": build_reactome(dims.uniprot),
        "intact": build_intact(dims.uniprot),
    }
    for name, pdf in tables.items():
        d = os.path.join(base, name)
        os.makedirs(d, exist_ok=True)
        pdf.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(base, _LINK_MARKER), "w") as fd:
        fd.write("ok")
    return base


# ---------------------------------------------------------------------------
# synthetic genomic dimension for the SNP -> gene range-join family
# ---------------------------------------------------------------------------

#: deterministic synthetic genome shape (seedless arithmetic, no RNG):
#: 5 chromosomes x 200 genes, gene i on chromosome c spans
#: [i*1000 + 500, start + 1500 + (i % 7) * 700] so neighbouring genes
#: overlap (multiple "mapped" hits per position) and gaps exist
#: (positions with zero mapped genes but well-defined nearest
#: up/downstream neighbours).
SNP_CHROMS = 5
GENES_PER_CHROM = 200
N_SNPS = 400
_SNP_MARKER = "_SNP_READY"


def ensure_snp_tables(base: str = ORACLE_BASE) -> str:
    """Synthetic `ensembl` gene dimension + `snps` position table for the
    domain SNP->gene mapping query (the reference's
    get_set_gene_rids_by_position, odb_meta.py:1309-1363).  Written
    driver-side with pandas so BOTH the Spark query and the DuckDB
    oracle read identical parquet, like every other oracle table here.

    Gene symbols reuse the namespaces.build_dimensions GENE%05d universe
    so the created g(HGNC:"...") nodes intersect the HGNC dimension the
    linking queries use."""
    os.makedirs(base, exist_ok=True)
    if os.path.exists(os.path.join(base, _SNP_MARKER)):
        return base

    gene_rows = []
    for c in range(1, SNP_CHROMS + 1):
        for i in range(GENES_PER_CHROM):
            start = i * 1000 + 500
            stop = start + 1500 + (i % 7) * 700
            sym = f"GENE{(c - 1) * GENES_PER_CHROM + i:05d}"
            gene_rows.append({
                "symbol": sym, "chromosome": str(c),
                "start": start, "stop": stop,
            })

    span = GENES_PER_CHROM * 1000 + 6000
    snp_rows = []
    for n in range(N_SNPS):
        # multiplicative-hash position: deterministic, well spread, and
        # lands both inside genes and in the inter-gene gaps
        pos = (n * 99991 + 12345) % span
        snp_rows.append({
            "snp_id": f"rs{n:06d}",
            "chromosome": str(1 + n % SNP_CHROMS),
            "position": pos,
        })

    for name, pdf in (("ensembl", pd.DataFrame(gene_rows)),
                      ("snps", pd.DataFrame(snp_rows))):
        d = os.path.join(base, name)
        os.makedirs(d, exist_ok=True)
        for col in ("start", "stop", "position"):
            if col in pdf.columns:
                pdf[col] = pdf[col].astype("int64")
        pdf.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(base, _SNP_MARKER), "w") as fd:
        fd.write("ok")
    return base


# ---------------------------------------------------------------------------
# node2vec biased-walk oracle helper
# ---------------------------------------------------------------------------

#: node2vec parameters shared by graph.node2vec_walks's contract query and
#: its DuckDB oracle (bel_node2vec_walks); walks/len reuse WALKS_PER_NODE /
#: WALK_LEN so step 0 reuses the walk_hashes table verbatim
N2V_P = 2.0
N2V_Q = 0.5
#: default hub guard (graph.node2vec_walks max_hub): nodes with
#: d_in*d_out above this leave the biased 2-path domain and hop by the
#: unbiased DeepWalk rule — shared so the SQL twin applies the same cut
N2V_MAX_HUB = 4096
_N2V_MARKER = "_N2V_READY"


def ensure_node2vec_tables(base: str = ORACLE_BASE) -> str:
    """Twin of the biased transition keys of graph.node2vec_walks: for
    every DIRECTED 2-PATH (prev -> u -> v), walk w and step t >= 1, the
    Spark-identical selection key
    pmod(xxhash64("prev|u|w|t|v"), 2^40) * mult(v), with mult the
    scaled inverse node2vec weight (p*1000 for the return candidate,
    1000 for prev-adjacent, q*1000 otherwise).  The SQL oracle then
    unrolls the walk as min-selection joins over this table plus the
    t=0 rows of walk_hashes (step 0 is the unbiased DeepWalk rule)."""
    ensure_walk_tables(base)
    if os.path.exists(os.path.join(base, _N2V_MARKER)):
        return base

    from .graph import N2V_HMOD, N2V_SCALE
    from .oracle_xxh import spark_xxhash64_str

    mult_ret = int(round(N2V_P * N2V_SCALE))
    mult_mid = N2V_SCALE
    mult_far = int(round(N2V_Q * N2V_SCALE))

    st = pd.read_parquet(
        os.path.join(base, "statements"),
        columns=["subject_bel", "object_bel", "edge_key", "nested"])
    st = st[st["edge_key"].notna() & ~st["nested"]]
    edges = sorted(set(zip(st["subject_bel"], st["object_bel"])))
    out_adj: dict = {}
    eset = set(edges)
    for u, v in edges:
        out_adj.setdefault(u, []).append(v)
    rows = []
    for p0, u in edges:
        for v in out_adj.get(u, ()):
            if v == p0:
                mult = mult_ret
            elif (p0, v) in eset:
                mult = mult_mid
            else:
                mult = mult_far
            for w in range(WALKS_PER_NODE):
                for t in range(1, WALK_LEN):
                    h = spark_xxhash64_str(f"{p0}|{u}|{w}|{t}|{v}")
                    rows.append({
                        "prev": p0, "u": u, "w": w, "t": t, "v": v,
                        "key": (h % N2V_HMOD) * mult,
                    })
    d = os.path.join(base, "n2v_hashes")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows, columns=["prev", "u", "w", "t", "v", "key"]).astype(
        {"w": "int32", "t": "int32", "key": "int64"}).to_parquet(
        os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(base, _N2V_MARKER), "w") as fd:
        fd.write("ok")
    return base
