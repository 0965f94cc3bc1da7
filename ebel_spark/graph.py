"""Graph materialization: deduplicated node/edge tables + post-passes.

Replaces the reference's one-OrientDB-command-per-node/edge import loop
(/root/reference/ebel/manager/orientdb/importer.py:307-431) with bulk
DataFrame algebra:

- node identity   = sha256(node_class|bel)  (the (bel, class) rid cache,
                    importer.py:53-56, without any lookup)
- edge identity   = hash of the 7-tuple profile (importer.py:336-348);
                    duplicate edges merge their document sets via a salted
                    two-phase aggregation instead of read-modify-write
                    (importer.py:353-356)
- pure tagging    <- biodbs/bel.py:489-494
- protein->rna->gene generation  <- biodbs/bel.py:622-674
- involved_genes/involved_other rollup  <- biodbs/bel.py:555-598, per
                    term in the compiler (belc.canon.term_rollups)
- species tagging <- biodbs/bel.py:419-454
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .belc.vocab import (
    EDGE_CATEGORY_PARENTS,
    GENE_LIKE_CLASSES,
    NODE_CLASS_ANCESTORS,
    PURE_CLASSES,
    RELATION_CATEGORY,
    SPECIES_NAMESPACE,
)

BIO_OBJECT_CLASSES = frozenset(
    c for c, anc in NODE_CLASS_ANCESTORS.items() if "bio_object" in anc
)

_NULL = "\x00"


def node_id_col(cls_col, bel_col):
    """Spark-side twin of belc.canon.node_id (sha256('class|bel')[:32])."""
    return F.substring(F.sha2(F.concat_ws("|", cls_col, bel_col), 256), 1, 32)


def annotation_flat_col(anno_col):
    """Spark twin of belc.canon.annotation_flat: sort-by-key flat encoding
    of the annotation map.  Sorting the concatenated "key\\x1dvalues"
    strings equals sorting by key because \\x1d sorts below every
    grammar-legal key character."""
    return F.array_join(
        F.array_sort(F.transform(
            F.map_entries(anno_col),
            lambda e: F.concat(e.key, F.lit("\x1d"),
                               F.array_join(e.value, ",")),
        )),
        "\x1e",
    )


def edge_key_col(relation, subj, obj, ctype, cref, evidence, anno_flat):
    """Spark-side twin of belc.canon.edge_profile (anno_flat = the
    annotation_flat_col encoding, or lit("") for no annotations)."""
    raw = F.concat_ws(
        "\x1f",
        relation, subj, obj,
        F.coalesce(ctype, F.lit(_NULL)),
        F.coalesce(cref, F.lit(_NULL)),
        F.coalesce(F.regexp_replace(evidence, "\n", " "), F.lit("")),
        # concat_ws SKIPS null args (field AND separator vanish), which
        # would collapse the 7-tuple to an ambiguous 6-tuple for a NULL
        # annotation map; the twin edge_profile always joins 7 fields
        # (None -> empty, same as an empty map)
        F.coalesce(anno_flat, F.lit("")),
    )
    return F.substring(F.sha2(raw, 256), 1, 32)




def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut plan lineage for iterative ops (pagerank/BFS/LPA/k-core/CC
    and the unrolled closures): RELIABLE checkpoint when
    spark.checkpoint.dir is set — blocks are replicated to the
    checkpoint store, so an executor loss mid-iteration recovers on a
    real cluster — falling back to localCheckpoint (executor-local,
    non-replicated blocks) otherwise.  Same values either way; only the
    storage durability differs."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def iterate(step, state: DataFrame, rounds: int, stop=None):
    """The round loop of every iterative graph operator: `rounds` times
    state = step(state, i) for i = 0, 1, ..., with the lineage cuts and
    the early stop decided here, once.

    Without `stop`, lineage is cut after every second round and after
    the last: two rounds per materialization keep the plan O(1) deep
    while halving the per-round scheduling cost.  The values do not
    depend on the cadence.

    With a probe stop(prev, new) -> bool, every round's frame is cut
    lazily and the probe's own action fills the checkpoint, so a probing
    round runs one action, not an eager cut plus a probe.  The loop ends
    after the first round whose probe holds.

    -> (state, converged).  converged is true iff the probe held after
    one of the first `rounds` rounds: a state still changing in round
    `rounds` reports false even if round rounds + 1 would change nothing
    (that round is never run).  Without a probe it is false.
    """
    for i in range(rounds):
        new = step(state, i)
        if stop is None:
            state = cut_lineage(new) if i % 2 == 1 or i == rounds - 1 else new
            continue
        new = cut_lineage(new, eager=False)
        held = stop(state, new)
        state = new
        if held:
            return state, True
    return state, False


# ---------------------------------------------------------------------------
# nodes
# ---------------------------------------------------------------------------

_ROLLUP_COLS = ("involved_genes", "involved_other", "inferred_species")
_NODE_COLS = ("node_id", "node_class", "bel", "namespace", "name", "props",
              "has_modifiers", "pure", "n_occurrences", *_ROLLUP_COLS)


def materialize_nodes(nodes_tbl: DataFrame) -> DataFrame:
    """Dedup per-file node rows into the global node table.

    Shuffle key = (node_class, bel); hot nodes (p(HGNC:"TNF") in every file)
    collapse map-side via partial aggregation, so skew never reaches the
    shuffle in volume.

    Pure tagging mirrors the reference exactly (biodbs/bel.py:489-494: "no
    outgoing has__{fragment,variant,pmod,location,gmod} edges"): modifier
    nodes are never materialized (the reference true_values behavior), so
    no such edges exist and every node of a pure-eligible class is pure —
    including modified terms like p(HGNC:"IL2",pmod(Ph)).

    involved_genes / involved_other / inferred_species are the compiler's
    per-term has__* rollups (belc.canon.term_rollups), identical in every
    file that holds the term, so any one occurrence carries them.
    """
    deduped = (
        nodes_tbl.groupBy("node_class", "bel")
        .agg(
            F.first("namespace", ignorenulls=True).alias("namespace"),
            F.first("name", ignorenulls=True).alias("name"),
            F.first("props", ignorenulls=True).alias("props"),
            F.max("has_modifiers").alias("has_modifiers"),
            F.count(F.lit(1)).alias("n_occurrences"),
            *[F.first(c).alias(c) for c in _ROLLUP_COLS],
        )
    )
    pure_classes = F.array(*[F.lit(c) for c in sorted(PURE_CLASSES)])
    return (
        deduped
        .withColumn("node_id", node_id_col(F.col("node_class"), F.col("bel")))
        .withColumn("pure",
                    F.array_contains(pure_classes, F.col("node_class")))
        .select(*_NODE_COLS)
    )


# ---------------------------------------------------------------------------
# edges
# ---------------------------------------------------------------------------

def materialize_edges(statements_tbl: DataFrame, n_salts: int = 16) -> DataFrame:
    """Dedup statement edges on the 7-tuple profile, merging document sets.

    Two-phase salted aggregation: an edge repeated across millions of files
    is a hot groupBy key whose collect_set payload would funnel into one
    reducer — phase 1 aggregates per (edge_key, salt), phase 2 merges the
    <= n_salts partials.
    """
    st = statements_tbl.filter(
        F.col("edge_key").isNotNull() & ~F.col("nested")
    )
    # ONE scan of the statements: the payload columns ride through the
    # salted two-phase aggregation via first() (identical per key by the
    # 7-tuple profile, modulo optional citation extras where
    # first-writer-wins matches the reference cache, importer.py:345-351).
    # The previous shape — a narrow docs aggregation joined back to a
    # dropDuplicates payload — scanned + exploded + re-hashed the nested
    # statements column TWICE and shuffled three times; measured 2x the
    # CPU of this single-pass plan at bench scale.
    # annotation map -> json string through the agg buffers: a Map column
    # in an aggregation buffer forces SortAggregate; strings keep it
    # hash-based.
    payload_cols = [
        "relation", "relation_category", "subject_id",
        "subject_bel", "subject_class", "object_id", "object_bel",
        "object_class", "citation_type", "citation_ref", "citation_title",
        "citation_pub_date", "citation_author_list", "citation_comment",
        "evidence", "annotation_json", "pmid",
    ]
    salted = st.withColumn(
        "annotation_json", F.to_json("annotation")
    ).withColumn(
        "salt", F.pmod(F.xxhash64("file_sha"), F.lit(n_salts))
    )
    phase1 = salted.groupBy("edge_key", "salt").agg(
        *[F.first(c).alias(c) for c in payload_cols],
        F.collect_set("file_sha").alias("doc_part"),
        F.count(F.lit(1)).alias("cnt"),
    )
    phase2 = phase1.groupBy("edge_key").agg(
        *[F.first(c).alias(c) for c in payload_cols],
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("doc_part")))
        ).alias("document_ids"),
        F.sum("cnt").alias("n_statements"),
    )
    return (
        phase2
        .withColumn(
            "annotation",
            F.from_json("annotation_json", "map<string,array<string>>"))
        .withColumn("evidence", F.regexp_replace("evidence", "\n", " "))
        .withColumn(
            "citation",
            F.struct(
                F.col("citation_type").alias("type"),
                F.col("citation_title").alias("title"),
                F.col("citation_ref").alias("ref"),
                F.col("citation_pub_date").alias("pub_date"),
                F.col("citation_author_list").alias("author_list"),
                F.col("citation_comment").alias("comment"),
            ),
        )
        .select(
            F.col("edge_key").alias("edge_id"),
            "relation", "relation_category",
            "subject_id", "subject_class", "subject_bel",
            "object_id", "object_class", "object_bel",
            "citation", "evidence", "annotation", "pmid",
            "document_ids", "n_statements",
        )
    )


def materialize_structural_edges(child_edges_tbl: DataFrame) -> DataFrame:
    """has__<class> edges, deduped, with merged document sets."""
    return (
        child_edges_tbl.groupBy("relation", "subject_id", "object_id")
        .agg(
            F.array_sort(F.collect_set("file_sha")).alias("document_ids"),
            F.count(F.lit(1)).alias("n_statements"),
        )
        .withColumn("relation_category", F.lit("ebel"))
        .withColumn(
            "edge_id",
            F.substring(
                F.sha2(F.concat_ws("\x1f", "relation", "subject_id",
                                   "object_id"), 256), 1, 32),
        )
    )


# ---------------------------------------------------------------------------
# protein -> rna -> gene generation (compiler pass)
# ---------------------------------------------------------------------------

def _missing_counterparts(
    nodes: DataFrame, edges_in: DataFrame,
    to_class: str, from_class: str, edge_name: str, bel_fn: str,
) -> tuple[DataFrame, DataFrame]:
    """biodbs/bel.py:640-674: for each pure `to_class` node without an
    incoming `edge_name` edge, create the pure `from_class` counterpart and
    the edge from it.  A counterpart is a leaf term, so its has__*
    rollups are its own name and namespace."""
    has_in = (
        edges_in.filter(F.col("relation") == edge_name)
        .select("object_id").distinct()
    )
    targets = (
        nodes.filter(
            (F.col("node_class") == to_class) & F.col("pure")
            & F.col("namespace").isNotNull() & F.col("name").isNotNull()
        )
        .join(has_in, nodes.node_id == has_in.object_id, "left_anti")
        .select("node_id", "namespace", "name")
    )
    new_bel = F.concat(F.lit(bel_fn + "("), F.col("namespace"),
                       F.lit(':"'), F.col("name"), F.lit('")'))
    new_nodes = targets.select(
        F.lit(from_class).alias("node_class"),
        new_bel.alias("bel"),
        "namespace", "name",
        F.lit(None).cast("string").alias("props"),
        F.lit(False).alias("has_modifiers"),
        F.lit(True).alias("pure"),
        F.lit(0).cast("long").alias("n_occurrences"),
        F.array("name").alias("involved_genes"),
        F.array().cast("array<string>").alias("involved_other"),
        _species_of_namespace().alias("inferred_species"),
    ).withColumn("node_id", node_id_col(F.col("node_class"), F.col("bel")))

    new_edges = targets.select(
        F.lit(edge_name).alias("relation"),
        F.lit("genomic").alias("relation_category"),
        node_id_col(F.lit(from_class), new_bel).alias("subject_id"),
        F.col("node_id").alias("object_id"),
    ).withColumn(
        "edge_id",
        edge_key_col(F.col("relation"), F.col("subject_id"),
                     F.col("object_id"), F.lit(None).cast("string"),
                     F.lit(None).cast("string"), F.lit(""), F.lit("")),
    )
    return new_nodes, new_edges


def _union_new_nodes(nodes: DataFrame, new_nodes: DataFrame) -> DataFrame:
    """get_create_rid semantics: only add counterpart nodes whose
    (class, bel) does not already exist (odb_meta.py:975-985)."""
    fresh = (
        new_nodes.join(
            nodes.select("node_class", "bel"), ["node_class", "bel"],
            "left_anti",
        )
        .dropDuplicates(["node_class", "bel"])
    )
    return nodes.select(*_NODE_COLS).unionByName(fresh.select(*_NODE_COLS))


def protein2gene(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Add missing translated_to (rna->protein) then transcribed_to
    (gene->rna) edges + pure counterpart nodes.  Returns (nodes, new_edges).
    """
    rna_nodes, tl_edges = _missing_counterparts(
        nodes, edges, to_class="protein", from_class="rna",
        edge_name="translated_to", bel_fn="r")
    nodes2 = _union_new_nodes(nodes, rna_nodes)

    gene_nodes, tc_edges = _missing_counterparts(
        nodes2, edges, to_class="rna", from_class="gene",
        edge_name="transcribed_to", bel_fn="g")
    nodes3 = _union_new_nodes(nodes2, gene_nodes)

    new_edges = tl_edges.unionByName(tc_edges)
    return nodes3, new_edges


# ---------------------------------------------------------------------------
# species
# ---------------------------------------------------------------------------

def _species_of_namespace():
    """taxid of the row's namespace, null outside SPECIES_NAMESPACE."""
    smap = F.create_map(*[F.lit(x) for kv in SPECIES_NAMESPACE.items()
                          for x in kv])
    return F.when(F.col("namespace").isin(list(SPECIES_NAMESPACE)),
                  F.element_at(smap, F.col("namespace")))


def tag_species(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Replace the compiler's inferred_species by the species column
    (biodbs/bel.py:419-454): the direct namespace rule for protein/rna/gene;
    else, for nodes incident to at least one of the bel_relation ``edges``,
    the unique gene-like descendant namespace (inferred_species).  The
    direct rule takes precedence when both fire (bel.py applies it first);
    coalesce, not max — max would pick the numerically larger taxid."""
    incident = (
        edges.select(F.col("subject_id").alias("node_id"))
        .unionByName(edges.select(F.col("object_id").alias("node_id")))
        .distinct()
        .withColumn("_incident", F.lit(True))
    )
    direct = F.when(F.col("node_class").isin(list(GENE_LIKE_CLASSES)),
                    _species_of_namespace())
    inferred = F.when(F.col("_incident"), F.col("inferred_species"))
    return (
        nodes.join(incident, "node_id", "left")
        .withColumn("species", F.coalesce(direct, inferred))
        .drop("_incident", "inferred_species")
    )


def count_nodes_by_class(nodes: DataFrame) -> dict:
    """Polymorphic per-class counts (OrientDB counts include subclasses),
    for parity with /root/reference/tests/test_manager/true_values.py."""
    rows = nodes.groupBy("node_class").count().collect()
    out = {c: 0 for c in NODE_CLASS_ANCESTORS}
    for r in rows:
        for anc in NODE_CLASS_ANCESTORS.get(r["node_class"], {r["node_class"]}):
            out[anc] = out.get(anc, 0) + r["count"]
    return out


# derived from the ONE relation registry (belc.vocab.EDGE_CATEGORY_PARENTS)
# so a relation added there automatically gets its polymorphic rollup here;
# the intermediate ebel classes (odb_structure.py:438-459) follow from the
# relation's name shape (has_modified_*/has_variant_*/has_located_* — the
# structural has__* double-underscore relations never match those prefixes)
_EDGE_ANCESTORS: dict[str, tuple[str, ...]] = {}
for _rel, _cat in RELATION_CATEGORY.items():
    _EDGE_ANCESTORS[_rel] = (_rel, _cat, "bel_relation")
for _rel, _parent in EDGE_CATEGORY_PARENTS.items():
    if _parent != "ebel":
        continue
    if _rel.startswith("has_modified_"):
        _EDGE_ANCESTORS[_rel] = (_rel, "has_modified", "ebel_relation")
    elif _rel.startswith("has_variant_"):
        _EDGE_ANCESTORS[_rel] = (_rel, "has_variant_obj", "ebel_relation")
    elif _rel.startswith("has_located_"):
        _EDGE_ANCESTORS[_rel] = (_rel, "has_located", "ebel_relation")
    else:
        _EDGE_ANCESTORS[_rel] = (_rel, "ebel_relation")

_ALL_EDGE_CLASSES = sorted(
    {"bel_relation", "causal", "correlative", "genomic", "other",
     "deprecated", "compiler", "ebel_relation", "has_modified",
     "has_variant_obj", "has_located", "pathway_interaction", "has_ppi"}
    | set(_EDGE_ANCESTORS)
)


def count_edges_by_class(edges: DataFrame) -> dict:
    rows = edges.groupBy("relation").count().collect()
    out = {c: 0 for c in _ALL_EDGE_CLASSES}
    for r in rows:
        for anc in _EDGE_ANCESTORS.get(r["relation"], (r["relation"],)):
            out[anc] = out.get(anc, 0) + r["count"]
    return out


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """PageRank over a directed edge list (columns `src`, `dst`), with
    uniform redistribution of dangling-node mass: personalized_pagerank
    with the uniform teleport vector p(v) = 1/|V|.

    Each iteration is one shuffle-partitioned join (ranks ⋈ edges on the
    source key) plus a map-side-combined aggregation on the destination
    key — the standard distributed formulation.  The dangling mass is a
    scalar reduce per iteration (an aggregate action, never a data
    collect).  Lineage is cut (cut_lineage: reliable checkpoint when configured) so the plan
    stays O(1) deep instead of O(iters).

    At cluster scale, pre-partition `edges` by `src` and keep ranks
    hash-partitioned on the node key; the per-iteration join then
    co-locates and only the contribution aggregation shuffles.
    """
    return personalized_pagerank(edges, None, damping, iters, src, dst)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame | None,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Personalized PageRank: the teleport vector concentrates on a seed
    set instead of being uniform — rank_{k+1}(v) = (1-d)·p(v) +
    d·(Σ_{u→v} rank_k(u)/odeg(u) + dangling_mass·p(v)), with
    p(v) = 1/|S| for seed nodes and 0 otherwise, rank_0 = p.  The
    proximity-to-seeds score behind "related entities" / local community
    queries (Page et al. 1999 §6 personalized vector; Jeh & Widom 2003).

    `seeds` needs a `bel` column; seeds not present as graph nodes are
    ignored (mass normalizes over S ∩ V).  An empty intersection returns
    all-zero ranks (no teleport source) rather than raising — the
    documented degenerate case.  seeds=None is uniform PageRank
    (`pagerank`).

    Per iteration: one source-key join + one map-side-combined
    destination agg + a broadcast scalar dangling reduce, lineage cut
    every second round (`iterate`); the seed vector rides as one extra
    column on the rank frame, not a per-iteration join.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("bel"))
        .union(e.select(F.col("v").alias("bel")))
        .distinct()
        .transform(cut_lineage)
    )
    if seeds is None:
        n = nodes.count()
        if n == 0:
            # an empty edge frame has no nodes; 1.0/n below would raise
            return nodes.select("bel", F.lit(0.0).alias("rank"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        # the uniform teleport keeps its own IEEE op order, (1-d)/n and
        # dangling/n, rather than multiplying by p = 1/n
        teleport = F.lit((1.0 - damping) / n)
        dangling = F.col("dang_mass") / F.lit(float(n))
    else:
        seed_nodes = nodes.join(
            seeds.select(F.col("bel").alias("__sb")).distinct(),
            nodes["bel"] == F.col("__sb")).select("bel")
        s = seed_nodes.count()
        p = (1.0 / s) if s else 0.0
        ranks = (
            nodes.join(seed_nodes.withColumn("__seed", F.lit(1)), "bel", "left")
            .select("bel", F.when(F.col("__seed").isNotNull(), F.lit(p))
                    .otherwise(F.lit(0.0)).alias("p"))
            .withColumn("rank", F.col("p"))
        )
        teleport = F.lit(1.0 - damping) * F.col("p")
        dangling = F.col("dang_mass") * F.col("p")
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("odeg"))
    # rank rows carry odeg so the dangling reduce and the contribution
    # join both run off one cached frame per iteration
    ranks = (ranks.join(outdeg, ranks["bel"] == outdeg["u"], "left")
             .drop("u").transform(cut_lineage))
    keep = [c for c in ranks.columns if c != "rank"]

    def step(ranks, _):
        # dangling mass rides as a broadcast 1-row aggregate INSIDE the
        # iteration's plan (crossJoin of a scalar frame) instead of a
        # driver-side .first() action
        dang = (
            ranks.filter(F.col("odeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang_mass"))
        )
        contrib = (
            e.join(ranks.filter(F.col("odeg").isNotNull()),
                   e["u"] == ranks["bel"])
            .groupBy("v")
            .agg(F.sum(F.col("rank") / F.col("odeg")).alias("contrib"))
        )
        return (
            ranks.drop("rank")
            .join(contrib, ranks["bel"] == contrib["v"], "left")
            .crossJoin(F.broadcast(dang))
            .select(*keep, (teleport + F.lit(damping)
                            * (F.coalesce(F.col("contrib"), F.lit(0.0))
                               + dangling)).alias("rank"))
        )

    ranks, _ = iterate(step, ranks, iters)
    return ranks.select("bel", "rank")


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list, L1-normalized per half-step (sum-normalization instead of the
    textbook L2 so the oracle twin needs no sqrt): per iteration
    auth(v) = sum of hub over in-neighbors / total, then
    hub(u) = sum of auth over out-neighbors / total.

    Same distributed shape as `pagerank`: each half-step is one
    shuffle-partitioned join on the edge key plus a map-side-combined
    aggregation on the opposite key; the normalizer rides as a broadcast
    1-row aggregate inside the plan (never a driver collect).  A round of
    `iterate` is one half-step, so its every-second-round cut lands once
    per iteration and the plan stays O(1) deep.  Returns (bel, hub, auth)
    for every node.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("bel"))
        .union(e.select(F.col("v").alias("bel")))
        .distinct()
        .transform(cut_lineage)
    )
    if nodes.isEmpty():
        return nodes.select("bel", F.lit(0.0).alias("hub"),
                            F.lit(0.0).alias("auth"))

    def half_step(scores, i):
        # even rounds score authorities from the hubs pointing at them,
        # odd rounds hubs from the authorities they point at and carry
        # the authorities along
        frm, to, given, scored = (("u", "v", "hub", "auth") if i % 2 == 0
                                  else ("v", "u", "auth", "hub"))
        raw = (
            e.join(scores.select(F.col("bel").alias(frm), given), frm)
            .groupBy(to).agg(F.sum(given).alias("raw"))
        )
        total = raw.agg(F.sum("raw").alias("total"))
        out = (
            nodes.join(raw, nodes["bel"] == raw[to], "left")
            .crossJoin(F.broadcast(total))
            .select("bel", (F.coalesce(F.col("raw"), F.lit(0.0))
                            / F.col("total")).alias(scored))
        )
        if i % 2 == 0:
            return out
        return out.join(scores, "bel").select("bel", "hub", "auth")

    scores, _ = iterate(half_step, nodes.select(
        "bel", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth")), 2 * iters)
    return scores


def undirected_edges(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Canonicalize a directed edge list to distinct undirected pairs
    (a < b), dropping self-loops.  One distinct shuffle; every undirected
    graph op below starts here."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the compact-forward / node-iterator++ scheme).

    Every edge is oriented from its lower (degree, id) endpoint to the
    higher one, so wedge generation fans out from each node by its
    OUT-degree in the orientation — bounded by O(sqrt(m)) on any graph
    instead of the raw hub degree.  Each triangle {u,v,w} with key order
    ku < kv < kw is then enumerated exactly once: both (u,v) and (u,w)
    leave u, and the closing edge is oriented v -> w.  All joins are
    equi-joins on node keys (shuffle-hash/broadcast eligible); nothing is
    quadratic in hub degree, which is what makes this survive power-law
    graphs at 100 TB.

    Returns (bel, n_triangles) for nodes in >= 1 triangle.
    """
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    tris = _triangles_of_oriented(_orient_by_degree(und))
    return (
        tris.select(F.explode(F.array("s", "v", "w")).alias("bel"))
        .groupBy("bel")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def edge_support(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-undirected-edge triangle support — the k-truss building block
    (an edge is in the k-truss iff its support is >= k-2).

    Same degree-ordered compact-forward enumeration as triangle_counts
    (each triangle found exactly once, wedge fanout bounded by O(sqrt(m))
    per node), but instead of crediting the three NODES, each triangle
    credits its three undirected EDGES.  All equi-joins; survives
    power-law hubs for the same reason triangle_counts does.

    Returns (a, b, support) with a < b for edges in >= 1 triangle.
    """
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    return _edge_support_und(und)


def _triangles_of_oriented(oriented: DataFrame) -> DataFrame:
    """Every triangle of an ORIENTED frame (s, t, kt), exactly once, as
    (s, v, w): the compact-forward wedge join (two edges leaving s, in key
    order) closed by a semi-join on the oriented edge v -> w."""
    o1 = oriented.select(F.col("s"), F.col("t").alias("v"), F.col("kt").alias("kv"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("w"), F.col("kt").alias("kw"))
    wedges = (
        o1.join(o2, "s")
        .filter(F.col("kv") < F.col("kw"))
        .select("s", "v", "w")
    )
    closing = oriented.select(F.col("s").alias("v"), F.col("t").alias("w"))
    return wedges.join(closing, ["v", "w"], "left_semi")


def _support_of_oriented(oriented: DataFrame) -> DataFrame:
    """Per-undirected-edge triangle support from an already-ORIENTED frame
    with columns (s, t, kt), each triangle crediting its three edges.
    Shared by _edge_support_und and every ktruss_peel round.  Returns
    (a, b, support), a < b."""
    tris = _triangles_of_oriented(oriented)
    pair = (lambda x, y: F.struct(F.least(x, y).alias("a"),
                                  F.greatest(x, y).alias("b")))
    return (
        tris.select(F.explode(F.array(
            pair(F.col("s"), F.col("v")),
            pair(F.col("s"), F.col("w")),
            pair(F.col("v"), F.col("w")))).alias("e"))
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def _orient_by_degree(und: DataFrame, keep_ab: bool = False) -> DataFrame:
    """Orient a canonical undirected (a, b) frame by (degree, id): each edge
    points from its lower- to its higher-(d, n) endpoint, giving (s, t, kt)
    for compact-forward triangle enumeration.  With keep_ab the original
    (a, b) columns ride along (ktruss_peel needs them for the semi-join)."""
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a", "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    head = ["a", "b"] if keep_ab else []
    return keyed.select(
        *head,
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kt"),
    ).transform(cut_lineage)


def _edge_support_und(und: DataFrame) -> DataFrame:
    """edge_support core over an already-canonical undirected (a, b) frame
    (distinct, a < b, no self-loops): orient by degree, then the shared
    _support_of_oriented credit pass."""
    return _support_of_oriented(_orient_by_degree(und))


def ktruss_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int | None = 3,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 50,
) -> DataFrame:
    """k-truss peeling: repeatedly drop every edge whose triangle support
    is below k-2 (`rounds` synchronous rounds — the fixed-round unrolling
    both engines compute identically; the exact k-truss is the fixpoint).

    rounds=None peels TO the fixpoint — the exact k-truss (r4 VERDICT #5):
    each round's surviving-edge count is compared to the previous round's
    (the count is the probe whose action fills the round's checkpoint)
    and peeling stops when no edge dropped, bounded by `max_rounds`.  The
    output then carries a constant `converged` column, the signal a
    fixed unrolling cannot give, with `iterate`'s meaning: true iff one
    of the first `max_rounds` rounds removed no edge.  The fixed-`rounds`
    mode is kept as the oracle-twin protocol (DuckDB unrolls the same
    round count).
    The edge-centric sibling of kcore_peel: where k-core trims low-degree
    NODES, k-truss trims edges that aren't embedded in enough triangles —
    the standard cohesive-core extraction before relation-cluster mining.

    Each round recomputes per-edge support with the compact-forward
    enumeration on the CURRENT edge set, then semi-joins the survivors
    (`iterate` places the lineage cuts).  The graph is ORIENTED ONCE by
    initial (degree, id) — correctness of the enumeration needs only a fixed
    total order on nodes, and peeling never invalidates it; skipping the
    per-round degree aggregation + re-orientation saves ~3 shuffles per
    round (support VALUES are orientation-independent, so the SQL twin
    is unaffected).  Returns surviving (a, b, support) where support is
    recomputed on the final subgraph (0 for edges whose last triangles
    dissolved in the final round).

    For k <= 2 the threshold support >= k-2 is met by every edge (support
    is always >= 0), so the k-truss is the whole graph — peeling is
    skipped and support is reported over the full edge set (r3 ADVICE fix:
    the old per-round semi-join silently dropped triangle-free edges).
    """
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    o = _orient_by_degree(und, keep_ab=True)
    fixpoint = rounds is None
    converged = True  # k <= 2: the whole graph IS the k-truss, trivially

    if k > 2:
        def peel(o, _):
            sup = _support_of_oriented(o)
            return o.join(
                sup.filter(F.col("support") >= k - 2).select("a", "b"),
                ["a", "b"], "left_semi")

        sizes = [o.count()] if fixpoint else None

        def no_edge_dropped(_, new):
            sizes.append(new.count())
            return sizes[-1] == sizes[-2]

        o, converged = iterate(peel, o, max_rounds if fixpoint else rounds,
                               no_edge_dropped if fixpoint else None)
    final = _support_of_oriented(o)
    out = (
        o.select("a", "b").join(final, ["a", "b"], "left")
        .select("a", "b",
                F.coalesce("support", F.lit(0)).cast("long").alias("support"))
    )
    if fixpoint:
        out = out.withColumn("converged", F.lit(bool(converged)))
    return out


def cooccurrence_pmi(statements: DataFrame, subj: str = "u",
                     obj: str = "v") -> DataFrame:
    """Pointwise mutual information of (subject, object) entity pairs over
    statement occurrences: pmi = ln(n(u,v) * N / (n_subj(u) * n_obj(v))).

    The association-strength primitive behind KG link ranking / relation
    calibration.  Three map-side-combinable counts and two equi-joins on
    the pair table (the marginal tables are |V|-sized — broadcastable at
    any corpus scale where the entity vocabulary fits an executor; the
    pair table is never joined to itself)."""
    s = statements.select(F.col(subj).alias("u"), F.col(obj).alias("v"))
    pairs = s.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_uv"))
    n_subj = s.groupBy("u").agg(F.count(F.lit(1)).alias("n_u"))
    n_obj = s.groupBy("v").agg(F.count(F.lit(1)).alias("n_v"))
    total = s.select(F.count(F.lit(1)).alias("n_total"))
    return (
        pairs.join(n_subj, "u")
        .join(n_obj, "v")
        .crossJoin(F.broadcast(total))
        .select(
            "u", "v", "n_uv",
            F.log(F.col("n_uv").cast("double") * F.col("n_total")
                  / (F.col("n_u").cast("double") * F.col("n_v")))
            .alias("pmi"),
        )
    )


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_len: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus over a directed edge list:
    `walks_per_node` walks of up to `walk_len` hops from every node, the
    skip-gram training-sequence generator for KG node embeddings
    (Perozzi et al. 2014), with the random choice replaced by hashing so
    the corpus is reproducible under any partitioning: from node c at
    step t of walk w the next hop is the out-neighbor v minimizing
    (xxhash64("c|w|t|v"), v).  Walks stop early at sinks.

    Shape at scale: the chosen hop depends only on (c, w, t) — NOT on the
    walk's origin — so each step first reduces edges x walks to a
    TRANSITION TABLE of at most |V| x walks_per_node rows (one partial-agg
    min per out-neighborhood; map-side combined), then advances all walk
    states with a 1:1 equi-join against it.  State rows never fan out, so
    hub skew lands only in the bounded transition-table aggregation, never
    in the state join — the classic distributed-DeepWalk candidate blowup
    (states-at-hub x out-degree) is avoided by construction.  walk_len
    bounds the number of shuffles.

    Returns (start, walk, step, node) rows, step 0 = the start node.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    nodes = (e.select(F.col("u").alias("bel"))
             .union(e.select("v")).distinct())
    walk_ids = F.array(*[F.lit(w) for w in range(walks_per_node)])
    cur = nodes.select(
        F.col("bel").alias("start"),
        F.explode(walk_ids).alias("walk"),
        F.col("bel").alias("node"),
    )
    out = cur.withColumn("step", F.lit(0))
    # ALL per-step transitions in one pass: edges x walks x steps, one
    # window shuffle, persisted — each step's 1:1 state join filters this
    # frame instead of re-deriving (and re-shuffling) the edge list
    steps = F.array(*[F.lit(t) for t in range(walk_len)])
    h = F.xxhash64(F.concat_ws(
        "|", F.col("u"), F.col("walk").cast("string"),
        F.col("t").cast("string"), F.col("v")))
    from .ops.dedup import _pin  # lazy: dedup imports graph.cut_lineage
    trans = _pin(
        e.select("u", "v", F.explode(walk_ids).alias("walk"))
        .select("u", "v", "walk", F.explode(steps).alias("t"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("u", "walk", "t")
            .orderBy(h.asc(), F.col("v").asc())))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("node"), "walk", "t",
                F.col("v").alias("nxt"))
    )
    for t in range(walk_len):
        cur = (
            cur.join(trans.filter(F.col("t") == t), ["node", "walk"])
            .select("start", "walk", F.col("nxt").alias("node"))
        )
        out = out.unionByName(cur.withColumn("step", F.lit(t + 1)))
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from a `random_walks` corpus: for every
    walk, all ordered (center, context) node pairs within `window` steps
    of each other, aggregated to corpus-level counts — the input a
    word2vec-style node-embedding trainer consumes (DeepWalk step 2).

    The self-join keys on (start, walk), so each walk fans out at most
    (walk_len+1)^2 rows regardless of graph size or skew; the pair count
    aggregation is map-side combined on (center, context)."""
    a = walks.select("start", "walk", F.col("step").alias("si"),
                     F.col("node").alias("center"))
    b = walks.select("start", "walk", F.col("step").alias("sj"),
                     F.col("node").alias("context"))
    return (
        a.join(b, ["start", "walk"])
        .filter((F.abs(F.col("si") - F.col("sj")) <= window)
                & (F.col("si") != F.col("sj")))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def bfs_depths(
    edges: DataFrame,
    source: DataFrame,
    max_depth: int = 6,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Single-source shortest-path depths over a DIRECTED edge list by
    frontier-expansion BFS: each level is one equi-join (frontier x edges
    on the source key) plus an anti-join against the visited set — the
    standard Pregel level-synchronous formulation as DataFrame rounds
    (`_levels`), stopping early at an empty frontier.

    `source` is a 1-row DataFrame with a `bel` column (kept as a frame so
    the whole computation stays declarative — no driver-side collect of
    graph data).  Returns (bel, dist) for every node within `max_depth`.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()

    def expand(frontier, visited, i):
        return (
            e.join(frontier.select(F.col("bel").alias("u")), "u", "left_semi")
            .select(F.col("v").alias("bel"))
            .distinct()
            .join(visited, "bel", "left_anti")
            .select("bel", F.lit(i + 1).alias("dist"))
        )

    first = source.select("bel", F.lit(0).alias("dist")).transform(cut_lineage)
    return _levels(first, expand, max_depth)


def _levels(first: DataFrame, expand, rounds: int) -> DataFrame:
    """The union of all frontiers of a level-synchronous expansion:
    frontier i+1 = expand(frontier i, union of frontiers 0..i, i), for
    `rounds` levels or until a frontier is empty (bfs_depths,
    cycle_edges).  Only the new frontier is cut each level.  The union
    stays a flat union of <= rounds + 1 checkpoint scans, so re-cutting
    it each level would add a materialization per level for no depth
    reduction."""
    levels = []

    def step(frontier, i):
        levels.append(frontier)
        return expand(frontier, reduce(DataFrame.unionByName, levels), i)

    last, _ = iterate(step, first, rounds, stop=lambda _, new: new.isEmpty())
    return reduce(DataFrame.unionByName, levels + [last])


def sssp_relax(
    edges: DataFrame,
    source: DataFrame,
    cost: str = "cost",
    rounds: int = 6,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Weighted single(or multi)-source shortest paths by synchronous
    Bellman-Ford relaxation: dist_{k+1}(v) = min(dist_k(v),
    min_{u->v}(dist_k(u) + cost(u, v))), dist_0 = 0 on the source set.
    The weighted upgrade of bfs_depths — with per-relation costs a
    2-hop causal chain can beat a 1-hop associative edge, the
    "strongest mechanistic path" query BFS cannot express.  Costs must
    be non-negative integers, so every min() is exact and
    partitioning-independent (the same discipline as the IVF scaled-long
    sums) and the unrolled DuckDB twin computes bit-identical answers.

    Scale shape: per round ONE equi-join of the |V|-bounded dist frame
    against the edge list on the source key (edges stay sharded; dist
    is the small side) and one map-side-combinable min-groupBy; lineage
    cut by `iterate`, rounds bounds the shuffle count.  `source` is a
    DataFrame with a `bel` column (no driver-side graph data).

    Returns (bel, dist) for every node reached within `rounds` hops.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                      F.col(cost).cast("long").alias("cost"))
         .distinct().transform(cut_lineage))

    def relax(dist, _):
        relaxed = (
            e.join(dist.select(F.col("bel").alias("u"),
                               F.col("dist").alias("du")), "u")
            .select(F.col("v").alias("bel"),
                    (F.col("du") + F.col("cost")).alias("dist"))
        )
        return (dist.unionByName(relaxed)
                .groupBy("bel").agg(F.min("dist").alias("dist")))

    dist = (source.select("bel", F.lit(0).cast("long").alias("dist"))
            .transform(cut_lineage))
    return iterate(relax, dist, rounds)[0]


#: Largest INPUT edge list (edges.count(): rows before canonicalization,
#: an upper bound on the undirected edges) that kcore_peel and
#: label_propagation run inside ONE pandas task (canonicalization and all
#: rounds, no per-round jobs) instead of the per-round Spark loop.
#: Measured on seeded random graphs (|V| = |E|/2; k=2, 6 rounds; 5 LPA
#: rounds), local[4], 4-core / 15.7 GB host, warm session, seconds per
#: call (runs 2-3 of 3), one task vs Spark loop:
#:   10k edges:  k-core 0.64-0.69 vs 2.15-2.38, LPA 0.53-0.54 vs 2.00-2.02
#:   100k edges: k-core 0.68-0.75 vs 2.84-2.95, LPA 0.88-1.04 vs 4.82-4.89
#:   1M edges:   k-core 3.34-3.38 vs 18.7-19.4, LPA 6.6-7.2 vs 15.8-17.5
#: One task wins at every size.  At 1M input rows (|V| = |E|/2, ~20-char
#: names) the task function (pandas canonicalization, then the k-core or
#: LPA rounds) allocates at most 151 MB (k-core) / 234 MB (LPA) over its
#: ~143 MB of pandas input batches (tracemalloc, the same function
#: outside Spark).  Larger graphs were not measured, so they keep the
#: Spark loop.
_LOCAL_MAX_EDGES = 1_000_000


def _in_one_task(edges, src, dst, schema, fn, *args) -> DataFrame:
    """fn(und, *args) -> pandas frame in ONE task, und being the
    undirected_edges (a, b) rows of edges as one pandas frame: edges are
    coalesced to one partition and canonicalized as undirected_edges does
    (null endpoints and self-loops dropped, a = min, b = max, duplicates
    dropped; Python compares str by code point, the same order as
    Spark's UTF-8 binary order).  A caller's narrow upstream plan runs
    in that task too.  No edge left -> no batch: an empty frame."""
    def task(batches):
        e = pd.concat([*batches, pd.DataFrame(columns=["u", "v"])]).dropna()
        und = pd.DataFrame(np.sort(e[e["u"] != e["v"]].to_numpy(), axis=1),
                           columns=["a", "b"]).drop_duplicates()
        if len(und):
            yield fn(und, *args)

    return (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .coalesce(1).mapInPandas(task, schema))


def _kcore_pandas(und, k: int, rounds: int):
    """kcore_peel's rounds over the undirected_edges (a, b) rows, on
    integer node codes."""
    codes, names = pd.factorize(pd.concat([und["a"], und["b"]]))
    m = len(und)
    a, b = codes[:m], codes[m:]
    for _ in range(rounds):
        deg = np.bincount(np.concatenate([a, b]), minlength=len(names))
        keep = (deg[a] >= k) & (deg[b] >= k)
        if keep.all():  # fixpoint: later rounds change nothing
            break
        a, b = a[keep], b[keep]
    deg = np.bincount(np.concatenate([a, b]), minlength=len(names))
    alive = np.flatnonzero(deg)
    return pd.DataFrame({"bel": np.asarray(names, dtype=object)[alive],
                         "deg": deg[alive].astype("int64")})


def _lpa_pandas(und, iters: int):
    """label_propagation's rounds over the undirected_edges (a, b) rows:
    each node takes the most frequent neighbour label, ties to the
    smallest label.  Nodes become integer codes in sorted order (Python
    compares str by code point, the same order as Spark's UTF-8 binary
    order), so the smallest code is the smallest label."""
    codes, names = pd.factorize(pd.concat([und["a"], und["b"]]), sort=True)
    m, n_nodes = len(und), len(names)
    # (n, h): every edge in both directions
    n, h = codes, np.concatenate([codes[m:], codes[:m]])
    labels = np.arange(n_nodes)
    for _ in range(iters):
        pairs, c = np.unique(n * n_nodes + labels[h], return_counts=True)
        node, label = pairs // n_nodes, pairs % n_nodes
        order = np.lexsort((label, -c, node))
        node, label = node[order], label[order]
        first = np.r_[True, node[1:] != node[:-1]]
        labels[node[first]] = label[first]
    return pd.DataFrame({"bel": np.asarray(names, dtype=object),
                         "label": np.asarray(names, dtype=object)[labels]})


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 6,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-core peeling over the undirected graph: repeatedly drop nodes
    whose current degree is below k (`rounds` synchronous rounds — the
    fixed-round unrolling both engines compute identically; the exact
    k-core is the fixpoint).  Pruning the low-degree fringe is the
    standard KG-cleaning pass before community/centrality analyses.

    Up to _LOCAL_MAX_EDGES input rows (edges.count(), an upper bound on
    the undirected edges), the whole operator runs in one pandas task
    (_in_one_task): one job plus the count.  A caller's narrow upstream
    plan runs in that task too, so pass a persisted edge list.  Above
    it, each round is one degree aggregation plus two semi-joins that
    keep only edges whose BOTH endpoints survive — all equi-joins on
    node keys, lineage cut by `iterate`.  Returns (bel, deg): surviving
    nodes with their degree in the peeled subgraph.
    """
    if edges.count() <= _LOCAL_MAX_EDGES:
        return _in_one_task(edges, src, dst, "bel string, deg long",
                            _kcore_pandas, k, rounds)
    e = cut_lineage(undirected_edges(edges, src, dst))

    def peel(e, _):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        return (
            e.join(keep.select(F.col("n").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("n").alias("b")), "b", "left_semi")
        )

    e, _ = iterate(peel, e, rounds)
    return (
        e.select(F.col("a").alias("bel"))
        .unionAll(e.select(F.col("b").alias("bel")))
        .groupBy("bel")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic synchronous label propagation over the undirected
    graph: labels start as the node id; each round every node adopts the
    most frequent label among its neighbors, ties broken by the smallest
    label — a fully order-independent update rule, so the fixed-round
    result is reproducible across any partitioning (and expressible as a
    SQL twin).

    Up to _LOCAL_MAX_EDGES input rows, the whole operator runs in one
    pandas task, as in kcore_peel (a caller's narrow upstream plan runs
    in that task too).  Above it, each round is one equi-join (adjacency
    x labels on the neighbor key) plus a count aggregation and a per-node
    top-1 window — the standard Pregel LPA round as DataFrame algebra,
    lineage cut by `iterate`.  At cluster scale, hash-partition `adj` and
    `labels` on the node key once and every round's join co-locates;
    only the count shuffle remains.

    Returns (bel, label) after `iters` rounds.
    """
    if edges.count() <= _LOCAL_MAX_EDGES:
        return _in_one_task(edges, src, dst, "bel string, label string",
                            _lpa_pandas, iters)
    und = cut_lineage(undirected_edges(edges, src, dst))
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("h")).unionAll(
        und.select(F.col("b").alias("n"), F.col("a").alias("h")))
    labels = adj.select(F.col("n").alias("bel")).distinct().select(
        "bel", F.col("bel").alias("label"))
    w = Window.partitionBy("n").orderBy(F.desc("c"), F.asc("label"))

    def propagate(labels, _):
        counts = (
            adj.join(labels, adj["h"] == labels["bel"])
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("n").alias("bel"), "label")
        )

    return iterate(propagate, labels, iters)[0]


#: fixed-point scale for Adamic-Adar contributions (see adamic_adar)
AA_SCALE = 10**12


def aa_contrib_table(max_hub: int = 64) -> dict[int, int]:
    """degree -> round(AA_SCALE / ln(degree)) for degrees 2..max_hub.

    Computed ONCE driver-side in Python and injected as literals into
    both the Spark plan and the DuckDB oracle, so the per-neighbor
    Adamic-Adar contribution is the identical integer on both engines and
    the pair score is an EXACT long sum — float summation order (the
    usual cross-engine hash-mismatch trap for distributed float aggs)
    never enters."""
    import math
    return {k: round(AA_SCALE / math.log(k)) for k in range(2, max_hub + 1)}


def adamic_adar(
    edges: DataFrame,
    max_hub: int = 64,
    min_common: int = 2,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Adamic-Adar link-prediction scores over the undirected graph:
    aa(x, y) = sum over shared neighbors h of 1 / ln(deg(h)) — the
    classic 'weighted common neighbors' signal for proposing missing KG
    edges (rarely-shared neighbors count more than promiscuous hubs).

    Same co-neighbor inverted index as neighbor_jaccard (never
    all-pairs); neighbors with degree > `max_hub` are excluded from
    candidate generation (quadratic fanout, near-zero 1/ln signal — the
    skew guard), and degree-1 neighbors cannot be shared.  Scores are
    exact long sums of fixed-point contributions (aa_contrib_table), so
    the result is partitioning- and summation-order-independent.

    Returns (x, y, common, aa) with x < y, common >= min_common, aa
    rounded to 6 dp.
    """
    contrib = aa_contrib_table(max_hub)
    cmap = F.create_map(
        *[F.lit(x) for kv in contrib.items() for x in kv])
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("h")).unionAll(
        und.select(F.col("b").alias("n"), F.col("a").alias("h")))
    hub = adj.groupBy("h").agg(F.count(F.lit(1)).alias("hd"))
    ok = hub.filter((F.col("hd") >= 2) & (F.col("hd") <= max_hub))
    capped = (
        adj.join(ok, "h")
        .select("h", "n", F.element_at(cmap, F.col("hd").cast("int"))
                .alias("c"))
        .transform(cut_lineage)
    )
    return (
        capped.select("h", "c", F.col("n").alias("x"))
        .join(capped.select("h", F.col("n").alias("y")), "h")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"),
             F.sum("c").alias("aa_scaled"))
        .filter(F.col("common") >= min_common)
        .select(
            "x", "y", F.col("common").cast("long").alias("common"),
            F.round(F.col("aa_scaled") / F.lit(float(AA_SCALE)), 6)
            .alias("aa"))
    )


def neighbor_jaccard(
    edges: DataFrame,
    threshold: float = 0.5,
    max_hub: int = 64,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Structural-equivalence candidate pairs for KG entity resolution:
    Jaccard similarity of (undirected) neighbor sets, computed by a
    co-neighbor inverted index — for each shared neighbor h, all node
    pairs adjacent to h, grouped and counted.  Never all-pairs.

    Skew guard: neighbors with degree > `max_hub` are excluded from the
    neighbor sets on BOTH sides of the similarity (same role as the
    rare-shingle `max_df` cap in ops/dedup.ngram_jaccard_pairs) — a
    super-hub contributes quadratic candidate fanout and near-zero
    similarity signal.  The score is exact Jaccard over the capped
    neighbor universe: |N'(x) ∩ N'(y)| / (|N'(x)| + |N'(y)| - |∩|),
    integer counts and a single division, so it is float-stable.

    Returns (x, y, inter, jaccard) with x < y and jaccard >= threshold,
    jaccard rounded to 6 dp.
    """
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("h")).unionAll(
        und.select(F.col("b").alias("n"), F.col("a").alias("h")))
    hub_ok = (
        adj.groupBy("h").agg(F.count(F.lit(1)).alias("hd"))
        .filter(F.col("hd") <= max_hub)
        .select("h")
    )
    capped = adj.join(hub_ok, "h", "left_semi").transform(cut_lineage)
    deg = capped.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        capped.select("h", F.col("n").alias("x"))
        .join(capped.select("h", F.col("n").alias("y")), "h")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        pairs.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("dx") + F.col("dy") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.select(
        "x", "y", F.col("inter").cast("long").alias("inter"),
        F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# negative sampling (KG-embedding training data)
# ---------------------------------------------------------------------------

def _md5_int(col) -> "F.Column":
    """First 15 hex digits of md5 as a non-negative 60-bit long — the
    deterministic hash both Spark (conv base16) and DuckDB
    (CAST '0x'||substr AS BIGINT) evaluate identically."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def negative_samples(
    edges: DataFrame, k: int = 2, buckets: int = 64,
    subj: str = "subject_bel", rel: str = "relation",
    obj: str = "object_bel", edge_id: str = "edge_key",
) -> DataFrame:
    """Deterministic corrupted-object negatives for KG-embedding training
    ((h, r, t) -> k (h, r, t') rows with t' drawn pseudo-randomly from the
    entity universe), the standard TransE/DistMult training-data op.

    No global entity index: a per-entity md5 bucket is the sampling
    domain, each (edge, i) hashes to a target bucket, and the winner
    inside the bucket is the min md5(entity|edge|i) — one equi-join with
    ~N/buckets fan-out per negative, no single-partition row_number over
    the entity table (the usual scale trap).  `buckets` grows with the
    entity count to keep bucket size ~constant at 100 TB.  Negatives that
    collide with the true object are filtered (filtered negative
    sampling), so callers get AT MOST k per edge."""
    pos = edges.select(
        F.col(edge_id).alias("edge_id"), F.col(subj).alias("subject_bel"),
        F.col(rel).alias("relation"), F.col(obj).alias("object_bel"))
    ents = (
        pos.select(F.col("subject_bel").alias("bel"))
        .unionAll(pos.select(F.col("object_bel").alias("bel")))
        .distinct()
        .withColumn("bucket", F.pmod(_md5_int(F.col("bel")),
                                     F.lit(buckets)))
    )
    probes = pos.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(k)]))
        .alias("neg_idx")
    ).withColumn(
        "bucket",
        F.pmod(_md5_int(F.concat_ws("#", "edge_id",
                                    F.col("neg_idx").cast("string"))),
               F.lit(buckets)))
    scored = (
        probes.join(ents, "bucket")
        .withColumn("score", F.md5(F.concat_ws(
            "|", "bel", "edge_id", F.col("neg_idx").cast("string"))))
    )
    return (
        scored.groupBy("edge_id", "neg_idx")
        .agg(F.min(F.struct(F.col("score"), F.col("bel"))).alias("m"),
             F.first("subject_bel").alias("subject_bel"),
             F.first("relation").alias("relation"),
             F.first("object_bel").alias("object_bel"))
        .withColumn("neg_object_bel", F.col("m.bel"))
        .filter(F.col("neg_object_bel") != F.col("object_bel"))
        .select("edge_id", "neg_idx", "subject_bel", "relation",
                "neg_object_bel")
    )


# ---------------------------------------------------------------------------
# path + match queries (the reference's REST graph-query layer)
# ---------------------------------------------------------------------------

class PathExplosionError(ValueError):
    """Raised when a path query exceeds its result caps — the reference
    REFUSES oversized results instead of truncating (bel.py:1066-1076
    too_many_paths / too_many_edges messages)."""


_HOW_EXACT = "exact"


def _how_pred(col, value: str, how: str | None):
    """Spark twin of _get_where_by_how (bel.py:338-352) for the string
    search modes (exact / contains / starts_with / ends_with /
    case_sensitive; OrientDB LIKE is case-sensitive, so case_sensitive
    equals exact)."""
    how = how or _HOW_EXACT
    if how == "contains":
        return col.contains(value)
    if how == "starts_with":
        return col.startswith(value)
    if how == "ends_with":
        return col.endswith(value)
    return col == value  # exact / case_sensitive


def expand_node_class(node_class: str) -> list[str]:
    """Leaf classes matched by an OrientDB `class:X` constraint: X itself
    plus every class whose ancestor chain contains X (OrientDB MATCH is
    polymorphic over the class hierarchy)."""
    return sorted(
        c for c, anc in NODE_CLASS_ANCESTORS.items()
        if c == node_class or node_class in anc
    )


def _node_spec_pred(spec: dict):
    """Node-dim predicate for a PathQuery outside-node spec (MatchNode.
    get_node, bel.py:920-960): bel pattern; namespace-only; name-only
    (plain name for gene/rna/protein, involved_genes/involved_other
    membership otherwise); name AND namespace; plus the class constraint.
    Evaluated over the node dimension (bel, node_class, namespace, name
    [, involved_genes, involved_other])."""
    pred = F.lit(True)
    name = spec.get("name")
    namespace = spec.get("namespace")
    bel = spec.get("bel")
    node_class = spec.get("node_class")
    if node_class:
        pred = pred & F.col("node_class").isin(expand_node_class(node_class))
    if bel:
        pred = pred & _how_pred(F.col("bel"), bel, spec.get("how_bel"))
    if namespace and not name:
        pred = pred & (F.col("namespace") == namespace)
    elif name and not namespace:
        if node_class in ("gene", "rna", "protein"):
            pred = pred & _how_pred(F.col("name"), name, spec.get("how_name"))
        else:
            pred = pred & (
                F.array_contains(F.col("involved_genes"), name)
                | F.array_contains(F.col("involved_other"), name))
    elif name and namespace:
        pred = pred & _how_pred(F.col("name"), name, spec.get("how_name")) \
            & (F.col("namespace") == namespace)
    return pred


def _spec_needs_nodes(spec: dict | None) -> bool:
    return bool(spec) and any(
        spec.get(k) for k in ("name", "namespace", "bel"))


def path_query(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    min_len: int = 1,
    max_len: int = 3,
    start: dict | None = None,
    end: dict | None = None,
    inside_node_class: str | None = None,
    gene_path: bool = False,
    relations: list[str] | None = None,
    anno_terms: list[str] | None = None,
    anno_key: str = "mesh",
    pmids: list[int] | None = None,
    max_paths: int = 100_000,
    max_unique_edges: int | None = 1_000,
    max_subgraph_edges: int | None = None,
    skip: int = 0,
    limit: int = 0,
) -> DataFrame:
    """The reference's parametrized PathQuery (bel.py:982-1144) as a
    static unrolled join DAG: one directed hop join per edge position,
    one branch per path length in [min_len, max_len].

    Faithful semantics:
      * start/end node specs: name / namespace / bel with exact /
        contains / starts_with / ends_with search modes, node class
        polymorphic over the class hierarchy (MatchNode.set_outside);
      * the LAST node must differ from the FIRST ($matched.n1 !=
        $currentMatch, bel.py:948);
      * inside nodes: optional class constraint; gene_path keeps only
        inside nodes with non-empty involved_genes (MatchNode.set_inside);
      * edges: relation-class membership (single or multiple), annotation
        term OR-membership (the reference's mesh_terms over
        annotation.mesh; `anno_key` generalizes the key), pmid membership
        (MatchEdge.get_edge);
      * caps: the query RAISES PathExplosionError past max_paths per
        length or max_unique_edges distinct edges overall — the
        reference refuses oversized results rather than truncating.
        Both are defined over the RESULT paths, so checking them costs
        the enumeration.  `max_subgraph_edges` (r5, off by default to
        keep reference parity) is the cheap PRE-guard for web scale: it
        refuses before any hop join when the predicate-filtered edge
        subgraph alone exceeds the budget — one count on the filtered
        scan instead of materializing a path set that is about to be
        refused anyway (measured: 86 s to refuse a 1.4M-edge KG via the
        result-path caps vs <2 s via the pre-guard);
      * skip/limit: deterministic keyset over the (path_len, nodes, edges)
        tuple order.

    Scale shape: each hop is an equi-join on the node key; the edge side
    is filtered ONCE before any hop (predicate pushdown to the scan),
    node-spec filters become broadcast semi-joins of the (small) matching
    node set, and the caps are enforced with aggregate counts — never a
    global sort of the path set.  Returns
    (path_len, n1..n{max_len+1}, e1..e{max_len}).
    """
    if not (1 <= min_len <= max_len):
        raise ValueError("need 1 <= min_len <= max_len")
    epred = F.lit(True)
    if relations:
        epred = epred & F.col("relation").isin(list(relations))
    if anno_terms:
        term_or = F.lit(False)
        for t in anno_terms:
            term_or = term_or | F.array_contains(
                F.col("annotation")[anno_key], t)
        epred = epred & term_or
    if pmids:
        epred = epred & F.col("pmid").isin([int(x) for x in pmids])
    e = edges.filter(epred).select(
        F.col("edge_id").alias("eid"),
        F.col("subject_bel").alias("s"), F.col("subject_class").alias("sc"),
        F.col("object_bel").alias("o"), F.col("object_class").alias("oc"),
    )
    if max_subgraph_edges is not None:
        n_sub = e.count()
        if n_sub > max_subgraph_edges:
            raise PathExplosionError(
                f"{n_sub} predicate-matched subgraph edges > max "
                f"{max_subgraph_edges} (pre-guard; refusing before "
                f"path enumeration)")

    def _allowed_set(spec: dict) -> DataFrame:
        if nodes is None:
            raise ValueError(
                "name/namespace/bel node specs need the nodes dimension")
        if (spec.get("name") and not spec.get("namespace")
                and spec.get("node_class") not in GENE_LIKE_CLASSES
                and "involved_genes" not in nodes.columns):
            raise ValueError(
                "a name-only spec without a gene/rna/protein class filters "
                "on involved_genes/involved_other membership (bel.py:920-"
                "960); pass a nodes table built by materialize_nodes, which "
                "carries the compiler's per-term rollup columns")
        return nodes.filter(_node_spec_pred(spec)).select("bel").distinct()

    # start constraint on the subject of hop 1
    e1 = e
    if start:
        if _spec_needs_nodes(start):
            e1 = e1.join(F.broadcast(_allowed_set(start)),
                         e1["s"] == F.col("bel"), "left_semi")
        if start.get("node_class"):
            e1 = e1.filter(F.col("sc").isin(
                expand_node_class(start["node_class"])))

    # inside constraint applied to the OBJECT of a non-final hop (column
    # `o` on the pre-hop edge frame, `_ho` mid-DAG)
    def _inside(df: DataFrame, obj_col: str = "o") -> DataFrame:
        if inside_node_class:
            df = df.filter(F.col("oc").isin(
                expand_node_class(inside_node_class)))
        if gene_path and not inside_node_class:
            if nodes is None:
                raise ValueError("gene_path needs the nodes dimension")
            genic = (nodes.filter(F.size("involved_genes") > 0)
                     .select("bel").distinct())
            df = df.join(F.broadcast(genic), df[obj_col] == F.col("bel"),
                         "left_semi")
        return df

    # end constraint applied to the OBJECT of the final hop
    def _end(df: DataFrame, first_col: str, obj_col: str) -> DataFrame:
        df = df.filter(F.col(obj_col) != F.col(first_col))
        if end:
            if _spec_needs_nodes(end):
                df = df.join(F.broadcast(_allowed_set(end)),
                             df[obj_col] == F.col("bel"), "left_semi")
            if end.get("node_class"):
                df = df.filter(F.col("oc").isin(
                    expand_node_class(end["node_class"])))
        return df

    nulls = F.lit(None).cast("string")
    n_cols = [f"n{i}" for i in range(1, max_len + 2)]
    e_cols = [f"e{i}" for i in range(1, max_len + 1)]
    branches: list[DataFrame] = []
    for k in range(min_len, max_len + 1):
        cur = e1 if k > 1 else _end(e1, "s", "o")
        if k > 1:
            cur = _inside(cur)
        cur = cur.select(F.col("s").alias("n1"), F.col("o").alias("n2"),
                         F.col("eid").alias("e1"))
        for h in range(2, k + 1):
            nxt = e.select(F.col("s").alias("_hs"),
                           F.col("o").alias("_ho"),
                           F.col("oc"),
                           F.col("eid").alias(f"e{h}"))
            cur = cur.join(nxt, cur[f"n{h}"] == nxt["_hs"])
            cur = _end(cur, "n1", "_ho") if h == k \
                else _inside(cur, obj_col="_ho")
            cur = cur.withColumnRenamed("_ho", f"n{h + 1}") \
                     .drop("_hs", "oc")
        sel = [F.lit(k).alias("path_len")]
        sel += [F.col(c) if i < k + 1 else nulls.alias(c)
                for i, c in enumerate(n_cols)]
        sel += [F.col(c) if i < k else nulls.alias(c)
                for i, c in enumerate(e_cols)]
        branches.append(cur.select(*sel))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    out = cut_lineage(out)

    # caps as aggregate COUNTS (no global sort): refuse, don't truncate
    if max_paths:
        over = (out.groupBy("path_len").count()
                .filter(F.col("count") > max_paths).collect())
        if over:
            raise PathExplosionError(
                f"more than {max_paths} paths at length(s) "
                f"{sorted(r['path_len'] for r in over)}")
    if max_unique_edges:
        eids = out.select(F.col("e1").alias("eid"))
        for c in e_cols[1:]:
            eids = eids.unionAll(out.select(F.col(c).alias("eid")))
        n_edges = (eids.filter(F.col("eid").isNotNull())
                   .distinct().count())
        if n_edges > max_unique_edges:
            raise PathExplosionError(
                f"{n_edges} unique edges > max {max_unique_edges}")
    if skip or limit:
        w = Window.orderBy(*(["path_len"] + n_cols + e_cols))
        out = (out.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") > skip))
        if limit:
            out = out.filter(F.col("_rn") <= skip + limit)
        out = out.drop("_rn")
    return out


def match_context(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_class: str | None = None,
    node_where=None,
    edge_relations: list[str] | None = None,
    edge_where=None,
    direction: str = "both",
) -> DataFrame:
    """MATCH-shaped context filter (odb_meta.py:1445-1474): nodes of a
    class satisfying a property predicate that touch at least one edge
    satisfying the edge predicate — OrientDB
    ``match {class:X, where:(...)}.(bothE('rel'){where:(...)})`` as one
    composable operator.  Returns the matching node rows (distinct by
    construction of the node table).

    Scale shape: the edge predicate is pushed to the edge scan, the
    touched-node set collapses through a distinct on the node key, and
    the final constraint is a semi-join — node payloads never ride
    through the shuffle.
    """
    if direction not in ("both", "out", "in"):
        raise ValueError(
            f"direction must be 'both', 'out' or 'in', got {direction!r}")
    ef = edges
    if edge_relations:
        ef = ef.filter(F.col("relation").isin(list(edge_relations)))
    if edge_where is not None:
        ef = ef.filter(edge_where)
    sides = []
    if direction in ("both", "out"):
        sides.append(ef.select(F.col("subject_bel").alias("bel")))
    if direction in ("both", "in"):
        sides.append(ef.select(F.col("object_bel").alias("bel")))
    touched = sides[0]
    for s in sides[1:]:
        touched = touched.unionAll(s)
    touched = touched.distinct()
    nf = nodes
    if node_class:
        nf = nf.filter(F.col("node_class").isin(
            expand_node_class(node_class)))
    if node_where is not None:
        nf = nf.filter(node_where)
    return nf.join(touched, "bel", "left_semi")


def mine_horn_rules(
    statements: DataFrame,
    subj: str = "u",
    rel: str = "r",
    obj: str = "v",
    min_support: int = 2,
    min_conf: float = 0.05,
    max_mid_degree: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """AMIE-style closed Horn-rule mining over the KG, path rules of
    length 2:  r1(x, y) ∧ r2(y, z)  ⇒  r3(x, z)   (Galárraga et al.,
    WWW 2013 — support and standard CWA confidence; the PCA-confidence
    variant is out of scope).  The relation-inference primitive of KG
    completion: high-confidence rules propose missing edges and
    calibrate extracted relations (e.g. increases∘increases ⇒ increases
    chains in a BEL graph).

      body(r1,r2)   = distinct (x, z) groundings of the 2-hop body
                      (x != z; reflexive chains are noise, documented)
      support       = |body ∧ r3(x, z)| — body groundings the head
                      also covers
      confidence    = support / |body| (CWA), rounded BEFORE the
                      min_conf filter so both engines cut identically
      conf_pca      = support / |{(x,z) ∈ body : ∃z' r3(x,z')}| — the
                      paper's PCA confidence: the denominator counts
                      only groundings whose subject is KNOWN to have
                      SOME r3 edge, so open-world incompleteness does
                      not punish the rule

    Scale shape: facts are deduplicated once (set semantics); the body
    is ONE self-equi-join on the join variable y and its grounding
    dedup is a map-side-combinable distinct; support is one more
    equi-join on (x, z) against the fact table; every aggregation is a
    bounded (r1, r2[, r3]) rollup — relation-vocabulary sized, never
    entity-sized.  The y-join inherits the hub-fanout caveat of every
    wedge enumeration; `max_mid_degree` drops join variables whose
    in*out fanout exceeds the cap (same discipline as adamic_adar's
    max_hub), the standard practical guard at web scale.

    Returns (r1, r2, r3, support, body_size, conf).
    """
    facts = (
        statements.select(F.col(subj).alias("u"), F.col(rel).alias("r"),
                          F.col(obj).alias("v"))
        .distinct()
        .transform(cut_lineage)
    )
    left = facts.select(F.col("r").alias("r1"), F.col("u").alias("x"),
                        F.col("v").alias("y"))
    right = facts.select(F.col("r").alias("r2"), F.col("u").alias("y"),
                         F.col("v").alias("z"))
    if max_mid_degree is not None:
        n_in = left.groupBy("y").agg(F.count(F.lit(1)).alias("n_in"))
        n_out = right.groupBy("y").agg(F.count(F.lit(1)).alias("n_out"))
        ok = (
            n_in.join(n_out, "y")
            .filter(F.col("n_in") * F.col("n_out") <= max_mid_degree)
            .select("y")
        )
        left = left.join(ok, "y", "left_semi")
        right = right.join(ok, "y", "left_semi")
    body = (
        left.join(right, "y")
        .filter(F.col("x") != F.col("z"))
        .select("r1", "r2", "x", "z")
        .distinct()
    )
    body_size = body.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).alias("body_size"))
    heads = facts.select(F.col("r").alias("r3"), F.col("u").alias("x"),
                         F.col("v").alias("z"))
    support = (
        body.join(heads, ["x", "z"])
        .groupBy("r1", "r2", "r3")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # PCA denominator: body groundings whose subject has SOME r3 edge —
    # one join of the body against the distinct (r3, x) projection
    # (fanout bounded by relations-per-subject, vocabulary-sized)
    head_x = heads.select("r3", "x").distinct()
    pca = (
        body.join(head_x, "x")
        .groupBy("r1", "r2", "r3")
        .agg(F.count(F.lit(1)).alias("pca_body"))
    )
    return (
        support.join(body_size, ["r1", "r2"])
        .join(pca, ["r1", "r2", "r3"])
        .filter(F.col("support") >= min_support)
        .withColumn(
            "conf",
            F.round(F.col("support").cast("double") / F.col("body_size"),
                    decimals))
        .filter(F.col("conf") >= min_conf)
        .select("r1", "r2", "r3",
                F.col("support").cast("long").alias("support"),
                F.col("body_size").cast("long").alias("body_size"),
                "conf",
                F.col("pca_body").cast("long").alias("pca_body"),
                F.round(F.col("support").cast("double")
                        / F.col("pca_body"), decimals).alias("conf_pca"))
    )


def apply_horn_rules(
    statements: DataFrame,
    rules: DataFrame,
    subj: str = "u",
    rel: str = "r",
    obj: str = "v",
    min_conf: float = 0.0,
    max_mid_degree: int | None = None,
) -> DataFrame:
    """KG completion by Horn-rule application — the consuming half of
    mine_horn_rules: for every rule r1(x,y) ∧ r2(y,z) ⇒ r3(x,z) in
    `rules`, propose the head triples whose body holds but whose head
    fact is MISSING from the KG (link prediction by rules, Galárraga
    2013 §6).  Each proposal carries the best supporting rule —
    max (conf, r1, r2), a total order, so the attribution is
    deterministic on both engines.

    Scale shape: the 2-hop body is the same single y-join as the miner
    (same `max_mid_degree` hub guard); the rule table is
    relation-vocabulary sized and rides broadcast; missing-head checks
    are one anti-join against the fact table on (r3, x, z); the
    best-rule pick is a map-side-combinable max-struct groupBy — no
    windows over entity-sized data.

    Returns (x, r3, z, conf, via_r1, via_r2).
    """
    facts = (
        statements.select(F.col(subj).alias("u"), F.col(rel).alias("r"),
                          F.col(obj).alias("v"))
        .distinct()
        .transform(cut_lineage)
    )
    left = facts.select(F.col("r").alias("r1"), F.col("u").alias("x"),
                        F.col("v").alias("y"))
    right = facts.select(F.col("r").alias("r2"), F.col("u").alias("y"),
                         F.col("v").alias("z"))
    if max_mid_degree is not None:
        n_in = left.groupBy("y").agg(F.count(F.lit(1)).alias("n_in"))
        n_out = right.groupBy("y").agg(F.count(F.lit(1)).alias("n_out"))
        ok = (
            n_in.join(n_out, "y")
            .filter(F.col("n_in") * F.col("n_out") <= max_mid_degree)
            .select("y")
        )
        left = left.join(ok, "y", "left_semi")
        right = right.join(ok, "y", "left_semi")
    body = (
        left.join(right, "y")
        .filter(F.col("x") != F.col("z"))
        .select("r1", "r2", "x", "z")
        .distinct()
    )
    r = (rules.filter(F.col("conf") >= min_conf)
         .select("r1", "r2", "r3", "conf").distinct())
    cand = body.join(F.broadcast(r), ["r1", "r2"])
    heads = facts.select(F.col("r").alias("r3"), F.col("u").alias("x"),
                         F.col("v").alias("z"))
    missing = cand.join(heads, ["r3", "x", "z"], "left_anti")
    return (
        missing.groupBy("x", "r3", "z")
        .agg(F.max(F.struct(F.col("conf").alias("c"),
                            F.col("r1").alias("a"),
                            F.col("r2").alias("b"))).alias("m"))
        .select("x", "r3", "z", F.col("m.c").alias("conf"),
                F.col("m.a").alias("via_r1"), F.col("m.b").alias("via_r2"))
    )


def cycle_edges(
    edges: DataFrame,
    max_len: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Feedback-loop detection: every edge lying on a directed cycle of
    length <= max_len, with the SHORTEST such cycle's length — edge
    (u, v) is on an L-cycle iff v reaches u in L-1 hops.  Feedback
    loops are first-class objects in causal BEL networks (activation/
    inhibition circuits); the reference can only reach them through
    hand-written path queries.

    Self-loops are excluded up front (they are trivially 1-cycles and
    would dominate the pair table).

    Scale shape: a bounded-hop pair closure — per level ONE equi-join
    of the frontier against the edge list plus a per-(a, b) anti-join
    against the visited pair set (first-visit = shortest hops): the
    frontier expansion of bfs_depths (`_levels`: lineage cut per level,
    early stop at an empty frontier); max_len bounds the shuffle count.
    The pair table is the cost (sum of k-hop neighborhoods); max_len
    <= ~4 keeps it near-linear on sparse KGs, and hub fanout can be
    pre-capped by filtering the edge list like every other wedge op
    here.

    Returns (u, v, cycle_len) for edges on a cycle, cycle_len >= 2.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .transform(cut_lineage))

    def expand(frontier, reach, i):
        return (
            frontier.select("a", F.col("b").alias("u"))
            .join(e, "u")
            .select("a", F.col("v").alias("b"))
            .distinct()
            .join(reach.select("a", "b"), ["a", "b"], "left_anti")
            .withColumn("hops", F.lit(i + 2))
        )

    reach = _levels(e.select(F.col("u").alias("a"), F.col("v").alias("b"),
                             F.lit(1).alias("hops")), expand, max_len - 2)
    back = reach.select(F.col("a").alias("v"), F.col("b").alias("u"),
                        "hops")
    return (
        e.join(back, ["u", "v"])
        .groupBy("u", "v")
        .agg((F.min("hops") + 1).cast("long").alias("cycle_len"))
    )


def edge_first_assertion(
    statements: DataFrame,
    subj: str = "subject_bel",
    rel: str = "relation",
    obj: str = "object_bel",
    pub_date: str = "citation_pub_date",
) -> DataFrame:
    """Knowledge-evolution profile: for every distinct (subject,
    relation, object) triple, the year it was FIRST asserted and how
    many statements assert it — when did the KG learn each fact, the
    rollup behind literature-growth timelines (bel.py:1505-1512 only
    counts per year; this keys by triple).  One map-side-combinable
    min/count aggregation on the statement table.

    Returns (subject_bel, relation, object_bel, first_year,
    n_statements); statements without a citation date are excluded.
    """
    return (
        statements.filter(F.col(pub_date).isNotNull()
                          & F.col(rel).isNotNull())
        .groupBy(F.col(subj).alias("subject_bel"),
                 F.col(rel).alias("relation"),
                 F.col(obj).alias("object_bel"))
        .agg(F.min(F.substring(F.col(pub_date), 1, 4)).alias("first_year"),
             F.count(F.lit(1)).cast("long").alias("n_statements"))
    )


def kg_diff(
    old_edges: DataFrame,
    new_edges: DataFrame,
    keys: tuple = ("u", "r", "v"),
) -> DataFrame:
    """Snapshot diff between two KG edge sets — the audit primitive of
    incremental construction (what did this delta-batch add / remove /
    keep?).  One full-outer join on the edge key; both inputs are
    deduplicated first so the status is set-semantics exact.

    Returns key columns + status in ('added', 'removed', 'kept').
    Scale shape: a single co-partitioned shuffle join on the key
    columns; map-side-combined distinct on both sides.
    """
    kc = list(keys)
    o = old_edges.select(*kc).distinct().withColumn("_o", F.lit(1))
    n = new_edges.select(*kc).distinct().withColumn("_n", F.lit(1))
    return (
        o.join(n, kc, "full_outer")
        .select(*kc,
                F.when(F.col("_o").isNull(), F.lit("added"))
                .when(F.col("_n").isNull(), F.lit("removed"))
                .otherwise(F.lit("kept")).alias("status"))
    )


def clustering_coefficient(edges: DataFrame, src: str = "u",
                           dst: str = "v", decimals: int = 6) -> DataFrame:
    """Local clustering coefficient per node: lcc(v) =
    2*T(v) / (d(v) * (d(v)-1)) over the undirected simple graph — the
    classic transitivity measure (Watts & Strogatz 1998) used to profile
    KG neighbourhood cohesion.  Reuses the degree-ordered
    compact-forward triangle enumeration (each triangle found once) and
    the undirected degree aggregate; one left join keeps triangle-free
    nodes at lcc 0.  Nodes of degree < 2 are excluded (the coefficient
    is undefined there) — mirrored by the SQL twin.

    Returns (bel, degree, n_triangles, lcc)."""
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    deg = (
        und.select(F.col("a").alias("bel"))
        .unionAll(und.select(F.col("b").alias("bel")))
        .groupBy("bel")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges, src, dst)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "bel", "left")
        .select(
            "bel",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.round(F.lit(2.0) * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                    decimals).alias("lcc"),
        )
    )


def schema_graph(
    statements: DataFrame,
    subj_class: str = "subject_class",
    rel: str = "relation",
    obj_class: str = "object_class",
    subj: str = "subject_bel",
    obj: str = "object_bel",
) -> DataFrame:
    """Schema-level KG summarization: roll the instance graph up to its
    type graph (subject_class, relation, object_class) with statement
    and distinct-entity counts — the ABSTAT-style profile (Spahiu et
    al. 2016) that powers KG exploration, query planning and schema
    drift detection without touching the instance level again.

    One map-side-combinable aggregation whose output is
    class-vocabulary² × relations sized — always tiny, no matter the
    corpus.  The distinct-entity counts expand the aggregate internally
    (Spark's count(DISTINCT) rewrite) but remain bounded by the same
    key space.

    Returns (subject_class, relation, object_class, n_statements,
    n_subjects, n_objects)."""
    return (
        statements.groupBy(
            F.col(subj_class).alias("subject_class"),
            F.col(rel).alias("relation"),
            F.col(obj_class).alias("object_class"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_statements"),
             F.countDistinct(F.col(subj)).cast("long").alias("n_subjects"),
             F.countDistinct(F.col(obj)).cast("long").alias("n_objects"))
    )


#: node2vec bias quantization: p/q multipliers are scaled to integers so
#: the selection key stays an exact long on both engines
N2V_SCALE = 1000
#: hash folded into [0, 2^40) before the multiplier so key = h * mult
#: never overflows a long (2^40 * 2^23 headroom)
N2V_HMOD = 1 << 40


def node2vec_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_len: int = 3,
    p: float = 2.0,
    q: float = 0.5,
    src: str = "u",
    dst: str = "v",
    max_hub: int | None = 4096,
) -> DataFrame:
    """Deterministic node2vec-biased walk corpus (Grover & Leskovec,
    KDD 2016): like random_walks, but from step 1 on the hop out of `u`
    is biased by the PREVIOUS node `prev` — return candidates
    (v == prev) are weighted 1/p, candidates adjacent to prev
    (edge (prev, v) exists) weight 1, everything else 1/q.  p > 1
    discourages backtracking, q < 1 encourages outward exploration
    (BFS/DFS interpolation).

    The draw is derandomized with the same hash-argmin device as
    random_walks, extended to weights: candidate v minimizes
    pmod(xxhash64("prev|u|w|t|v"), 2^40) * mult(v), where mult is the
    INVERSE weight scaled to an integer (p*1000 / 1000 / q*1000) —
    smaller multiplier = more likely to win the min, a deterministic
    integer-exact analog of weighted sampling (p/q quantized to 1/1000;
    the bias ORDER matches node2vec exactly, the proportions
    approximately).  Step 0 has no prev and uses the identical rule as
    random_walks ("u|w|0|v" hash-argmin), so the twin reuses the same
    driver-side hash table.

    Shape at scale: the biased transition depends on (prev, u, w, t),
    so the precomputed transition table lives on the DIRECTED 2-PATH
    domain — sum_u d_in(u)*d_out(u) rows, exactly the per-edge alias
    tables the reference node2vec implementation precomputes.  That
    domain is hub-quadratic, so `max_hub` (r4 VERDICT #4, the same
    discipline as adamic_adar(max_hub) / mine_horn_rules(max_mid_degree))
    bounds it BY DEFAULT: any node with d_in*d_out > max_hub is excluded
    from the 2-path domain and its outgoing hops fall back to the
    UNBIASED DeepWalk rule (hash-argmin over "u|w|t|v", prev-independent
    — one row per (hub, walk, t), d_out-linear).  Walks still continue
    through hubs; only the p/q bias degrades there, where a
    10^5-out-degree alias table would be noise anyway.  On a scale-free
    KG this turns the worst node's cost from d_in*d_out (10^10 at a
    10^5-degree hub) into d_out.  max_hub=None disables the guard
    (exact node2vec everywhere — the pre-r5 behavior).  The adjacency
    flag is one equi-join of the candidate table against the edge list
    on (prev, v); per-step state advance stays a 1:1 join, states never
    fan out.

    Returns (start, walk, step, node); step 0 = the start node.
    """
    mult_ret = int(round(p * N2V_SCALE))
    mult_mid = N2V_SCALE
    mult_far = int(round(q * N2V_SCALE))
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    nodes = (e.select(F.col("u").alias("bel"))
             .union(e.select("v")).distinct())
    walk_ids = F.array(*[F.lit(w) for w in range(walks_per_node)])
    from .ops.dedup import _pin

    # step-0 transition: DeepWalk rule, hash string identical to
    # random_walks at t=0 (twin table reuse)
    h0 = F.xxhash64(F.concat_ws(
        "|", F.col("u"), F.col("walk").cast("string"), F.lit("0"),
        F.col("v")))
    trans0 = (
        e.select("u", "v", F.explode(walk_ids).alias("walk"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("u", "walk").orderBy(h0.asc(),
                                                    F.col("v").asc())))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("node"), "walk", F.col("v").alias("nxt"))
    )

    # hub guard: nodes whose 2-path fanout d_in*d_out exceeds max_hub
    # leave the biased domain and get the prev-independent DeepWalk rule
    hubs = None
    if max_hub is not None:
        dout = e.groupBy("u").agg(F.count(F.lit(1)).alias("d_out"))
        din = (e.groupBy(F.col("v").alias("u"))
               .agg(F.count(F.lit(1)).alias("d_in")))
        hubs = (
            dout.join(din, "u")
            .filter(F.col("d_in") * F.col("d_out") > F.lit(max_hub))
            .select("u")
        )

    # biased transitions for t = 1..walk_len-1 over the 2-path domain
    two = (
        e.select(F.col("u").alias("prev"), F.col("v").alias("u"))
        .join(e, "u")
        .select("prev", "u", "v")
    )
    if hubs is not None:
        two = two.join(hubs, "u", "left_anti")
    mid = e.select(F.col("u").alias("prev"), F.col("v").alias("v"),
                   F.lit(1).alias("_mid"))
    steps = F.array(*[F.lit(t) for t in range(1, walk_len)])
    cand = (
        two.join(mid, ["prev", "v"], "left")
        .select("prev", "u", "v",
                F.when(F.col("v") == F.col("prev"),
                       F.lit(mult_ret))
                .when(F.col("_mid").isNotNull(), F.lit(mult_mid))
                .otherwise(F.lit(mult_far)).cast("long").alias("mult"))
        .select("prev", "u", "v", "mult",
                F.explode(walk_ids).alias("walk"))
        .select("prev", "u", "v", "mult", "walk",
                F.explode(steps).alias("t"))
    )
    key = (
        F.pmod(
            F.xxhash64(F.concat_ws(
                "|", F.col("prev"), F.col("u"),
                F.col("walk").cast("string"), F.col("t").cast("string"),
                F.col("v"))),
            F.lit(N2V_HMOD).cast("long"))
        * F.col("mult")
    )
    trans2 = _pin(
        cand
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("prev", "u", "walk", "t")
            .orderBy(key.asc(), F.col("v").asc())))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("u").alias("node"), "walk", "t",
                F.col("v").alias("nxt"))
    )

    # hub transitions: the unbiased random_walks hash-argmin, one row per
    # (hub, walk, t) — d_out-linear where the biased table is d_in*d_out
    trans_hub = None
    if hubs is not None:
        hH = F.xxhash64(F.concat_ws(
            "|", F.col("u"), F.col("walk").cast("string"),
            F.col("t").cast("string"), F.col("v")))
        trans_hub = _pin(
            e.join(hubs, "u", "left_semi")
            .select("u", "v", F.explode(walk_ids).alias("walk"))
            .select("u", "v", "walk", F.explode(steps).alias("t"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("u", "walk", "t")
                .orderBy(hH.asc(), F.col("v").asc())))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "walk", "t",
                    F.col("v").alias("nxt_h"))
        )

    cur = nodes.select(
        F.col("bel").alias("start"),
        F.explode(walk_ids).alias("walk"),
        F.col("bel").alias("node"),
    )
    out = cur.withColumn("step", F.lit(0))
    cur = (
        cur.join(trans0, ["node", "walk"])
        .select("start", "walk", F.col("node").alias("prev"),
                F.col("nxt").alias("node"))
    )
    out = out.unionByName(
        cur.select("start", "walk", "node").withColumn("step", F.lit(1)))
    for t in range(1, walk_len):
        if trans_hub is None:
            cur = (
                cur.join(trans2.filter(F.col("t") == t),
                         ["prev", "node", "walk"])
                .select("start", "walk", F.col("node").alias("prev"),
                        F.col("nxt").alias("node"))
            )
        else:
            # biased hop where the node is in the 2-path domain, the
            # unbiased hub rule otherwise; neither matching = sink, the
            # walk stops (same as the inner join)
            cur = (
                cur.join(
                    trans2.filter(F.col("t") == t)
                    .select("prev", "node", "walk", "nxt"),
                    ["prev", "node", "walk"], "left")
                .join(
                    trans_hub.filter(F.col("t") == t)
                    .select("node", "walk", "nxt_h"),
                    ["node", "walk"], "left")
                .select("start", "walk", F.col("node").alias("prev"),
                        F.coalesce("nxt", "nxt_h").alias("node"))
                .filter(F.col("node").isNotNull())
            )
        out = out.unionByName(
            cur.select("start", "walk", "node")
            .withColumn("step", F.lit(t + 1)))
    return out


def node_merge_map(
    nodes: DataFrame,
    node_class: str = "node_class",
    name: str = "name",
    bel: str = "bel",
    decimals: int = 6,
) -> DataFrame:
    """Entity-resolution merge map: group nodes of the same class whose
    names differ only by case/punctuation (lower + strip non-alnum) and
    elect a canonical representative per group — the label-normalization
    pass of KG construction (the reference resolves these one rid-cache
    lookup at a time; here it is one aggregation).  The canonical node
    is the group's most frequent surface form, ties to the
    lexicographically smallest bel string — a total order, so the map
    is deterministic on both engines.

    Scale shape: one map-side-combined count per (class, norm, bel),
    one per-group max-struct election (no window over raw nodes), one
    broadcast-friendly output keyed by every member bel.  Only groups
    with >= 2 distinct surface forms are emitted (the actual merges).

    Returns (node_class, norm_name, bel, canonical_bel, n_forms).
    """
    norm = F.regexp_replace(F.lower(F.col(name)), "[^a-z0-9]+", "")
    # r4 ADVICE: names made entirely of non-[a-z0-9] characters (Greek
    # letters, CJK symbols — common in bio nomenclature) normalize to ''
    # and would otherwise collapse ALL such unrelated nodes of a class
    # into one merge group; drop empty-norm rows before grouping.
    per_form = (
        nodes.filter(F.col(name).isNotNull())
        .select(F.col(node_class).alias("node_class"), norm.alias("norm_name"),
                F.col(bel).alias("bel"))
        .filter(F.col("norm_name") != "")
        .groupBy("node_class", "norm_name", "bel")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    # canonical = max over (n_occ, reversed-bel): most frequent form wins,
    # ties break to the SMALLEST bel — encode as a struct max with the
    # bel compared descending via a sort-inverted key on both engines:
    # simplest exact twin is min over (-n_occ, bel)
    groups = (
        per_form.groupBy("node_class", "norm_name")
        .agg(
            F.min(F.struct((-F.col("n_occ")).alias("neg"),
                           F.col("bel").alias("b"))).alias("m"),
            F.count(F.lit(1)).alias("n_forms"),
        )
        .filter(F.col("n_forms") >= 2)
        .select("node_class", "norm_name",
                F.col("m.b").alias("canonical_bel"), "n_forms")
    )
    return (
        per_form.join(groups, ["node_class", "norm_name"])
        .select("node_class", "norm_name", "bel", "canonical_bel",
                F.col("n_forms").cast("long").alias("n_forms"))
    )


def link_prediction_eval(
    edges: DataFrame,
    k: int = 20,
    holdout_bucket: int = 9,
    n_buckets: int = 10,
    max_hub: int = 64,
    min_common: int = 2,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Hits@k evaluation of Adamic-Adar link prediction — the harness a
    KG-completion deployment runs before trusting proposed edges: hold
    out a deterministic hash slice of the undirected edges (bucket =
    md5 of the canonical pair, so the split is a pure function of the
    edge and identical on any engine), score the REMAINING graph with
    adamic_adar, rank all candidate pairs globally by (aa desc, pair),
    and report for every held-out edge whether the predictor recovered
    it and at what rank (hit = rank <= k).

    Scale shape: scoring inherits adamic_adar's bounded inverted index;
    the global ranking window sorts only the candidate-pair table
    (min_common-filtered — eval-sized, not corpus-sized) through one
    task, acceptable for an EVAL artifact (shard it per-source-node for
    per-query ranking at larger scales); the final join keys on the
    canonical pair.

    Returns (a, b, rank, aa, hit) for every held-out edge; rank/aa NULL
    and hit false when the predictor never proposed the pair.
    """
    und = undirected_edges(edges, src, dst).transform(cut_lineage)
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("lp:"), F.col("a"), F.lit("|"),
                           F.col("b"))), 1, 8), 16, 10)
        .cast("long") % n_buckets
    )
    und = und.withColumn("_bkt", bucket)
    test = und.filter(F.col("_bkt") == holdout_bucket).select("a", "b")
    train = und.filter(F.col("_bkt") != holdout_bucket).select(
        F.col("a").alias("u"), F.col("b").alias("v"))
    preds = adamic_adar(train, max_hub=max_hub, min_common=min_common)
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("aa"), F.asc("x"), F.asc("y"))
    ranked = preds.withColumn("rank", F.row_number().over(w))
    return (
        test.join(
            ranked.select(F.col("x").alias("a"), F.col("y").alias("b"),
                          "rank", "aa"),
            ["a", "b"], "left")
        .select("a", "b", F.col("rank").cast("long").alias("rank"), "aa",
                F.coalesce(F.col("rank") <= k, F.lit(False)).alias("hit"))
    )
