"""Canonical BEL strings, statement-context folding and node/edge extraction.

Mirrors the reference importer's semantics
(/root/reference/ebel/manager/orientdb/importer.py):

- ``bel_string``        <- get_bel / get_bel_string (importer.py:433-490)
- ``fold_statements``   <- insert_statements_and_sets (importer.py:243-305)
- ``extract_nodes``     <- get_node_id recursion (importer.py:385-421)
- edge profile 7-tuple  <- importer.py:336-348

Node identity is a deterministic hash of (node_class, bel) — the reference's
(bel, class) -> @rid cache (importer.py:53-56) without any lookup round-trip.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Iterator, Optional

from .vocab import (
    BEL_FUNC_SHORT,
    GENE_LIKE_CLASSES,
    INVOLVED_GENES_EDGES,
    INVOLVED_OTHER_EDGES,
    NORMALIZED_PMOD,
    SPECIES_NAMESPACE,
)

_RE_PMID = re.compile(r"^\d+$")
_RE_EVIDENCE_WS = re.compile(r"\s*\\\s*\n\s*")


def node_id(node_class: str, bel: str) -> str:
    """Deterministic surrogate node key (replaces OrientDB @rid)."""
    return hashlib.sha256(f"{node_class}|{bel}".encode()).hexdigest()[:32]


# ---------------------------------------------------------------------------
# canonical BEL string
# ---------------------------------------------------------------------------

def _bel_string(params: list, function_name: Optional[str]) -> str:
    bels: list[str] = []
    for param in params:
        if isinstance(param, str):
            bels.append(param)
        elif isinstance(param, dict):
            keys = set(param.keys())
            if keys == {"namespace", "name"}:
                bels.append(param["namespace"] + ':"' + param["name"] + '"')
            elif function_name == "fragment":
                bels.append(",".join('"' + x + '"' for x in param.values() if x))
            elif function_name == "activity":
                if param.get("namespace"):
                    inner = param["namespace"] + ':"' + param["name"] + '"'
                else:
                    inner = param.get("default") or ""
                bels.append("ma(" + inner + ")")
            elif function_name == "pmod":
                if param.get("namespace"):
                    first = param["namespace"] + ':"' + param["name"] + '"'
                else:
                    first = NORMALIZED_PMOD[param["type"]]
                position = str(param["position"]) if param.get("position") else None
                parts = [first, param.get("amino_acid"), position]
                bels.append(",".join(x for x in parts if x))
            else:
                bels.append(",".join('"' + str(x) + '"' for x in param.values() if x))
    joined = ",".join(bels)
    if function_name:
        return BEL_FUNC_SHORT[function_name] + "(" + joined + ")"
    return joined


def bel_string(obj: list, parent_function: Optional[str] = None,
               memo: Optional[dict] = None) -> str:
    """Rebuild the canonical short-form BEL string from an IR term.

    ``memo`` (keyed by (id(term), parent_function)) collapses the repeated
    recomputation of nested sub-term strings — extract_nodes and the
    statement assembly both stringify every level of the same live term
    tree, ~10 calls per statement without it.  Callers must keep the term
    objects alive for the memo's lifetime (true within process_file)."""
    if memo is not None:
        key = (id(obj), parent_function)
        cached = memo.get(key)
        if cached is not None:
            return cached
    params: list = []
    function_name: Optional[str] = None
    for element in obj:
        if isinstance(element, dict):
            if "function" in element:
                function_name = element["function"]["name"]
            else:
                params.append(element)
        elif isinstance(element, list):
            params.append(bel_string(element, function_name, memo))
        # bare strings (fusion leg labels "gene1" etc.) are skipped,
        # matching the reference's get_bel
    res = _bel_string(params, parent_function)
    if memo is not None:
        memo[key] = res
    return res


# ---------------------------------------------------------------------------
# node / structural-edge extraction
# ---------------------------------------------------------------------------

_MODIFIER_CLASSES = frozenset({"pmod", "gmod", "variant", "fragment", "location"})


def _is_function(obj: Any) -> bool:
    return isinstance(obj, dict) and "function" in obj


def extract_nodes(
    term: list,
    nodes: list,
    child_edges: list,
    materialize_modifiers: bool = False,
    memo: Optional[dict] = None,
) -> tuple[str, str]:
    """Recursively flatten an IR term into node rows + has__<class> edges.

    Returns (node_class, node_id) of the root.  ``nodes`` rows:
    (node_class, bel, namespace, name, props_json, has_modifiers, node_id).

    By default modifier terms (pmod/var/frag/loc/gmod) are NOT materialized
    as nodes — this matches the graph-count oracle of the reference test
    suite (/root/reference/tests/test_manager/true_values.py: pmod=0,
    has__pmod=0 after importing a script containing pmod(Ph)).
    """
    cls = term[0]["function"]["name"]
    node_class = {"variant": "variant", "fragment": "fragment"}.get(cls, cls)
    bel = bel_string(term, memo=memo)
    nid = node_id(node_class, bel)

    params: dict = {}
    has_modifiers = False
    children: list[tuple[str, str]] = []

    for e in term[1]:
        if isinstance(e, dict) and "function" not in e:
            params.update(e)
        elif isinstance(e, list):
            if _is_function(e[0]) if e else False:
                children.append(
                    extract_nodes(e, nodes, child_edges,
                                  materialize_modifiers, memo)
                )
            else:
                # list of sub-entries: complex_list member list, changes list,
                # or fusion legs
                for f in e:
                    if isinstance(f, list) and f and _is_function(f[0]):
                        fcls = f[0]["function"]["name"]
                        if fcls in _MODIFIER_CLASSES:
                            has_modifiers = True
                            if not materialize_modifiers:
                                continue
                        children.append(
                            extract_nodes(f, nodes, child_edges,
                                          materialize_modifiers, memo)
                        )

    namespace = params.get("namespace") or None
    name = params.get("name") or None
    extra = {k: v for k, v in params.items()
             if k not in ("namespace", "name") and v not in (None, "", 0)}
    nodes.append((
        node_class, bel, namespace, name,
        json.dumps(extra, sort_keys=True) if extra else None,
        has_modifiers, nid,
    ))
    for child_class, child_id in children:
        child_edges.append((f"has__{child_class}", nid, child_id))
    return node_class, nid


def term_rollups(
    info: dict[str, tuple], child_edges,
) -> dict[str, tuple[list, list, Optional[int]]]:
    """involved_genes / involved_other / inferred_species of every node of
    one file (biodbs/bel.py:555-598 and 419-454).

    ``info`` maps node_id -> (node_class, namespace, name) in extraction
    order; ``child_edges`` are the file's distinct (relation, parent_id,
    child_id) has__* edges.  A term's has__* subtree is part of the term
    itself (node ids are content-addressed), so the file that holds the
    term holds its whole closure, and a per-file pass gives the same values
    as a closure over the global structural-edge table, at any depth.

    - involved_genes: sorted names of the gene-like nodes reachable over
      INVOLVED_GENES_EDGES, the node itself included;
    - involved_other: sorted names of the other named nodes reachable over
      INVOLVED_OTHER_EDGES, the node itself included;
    - inferred_species: the taxid of the one non-null namespace among the
      gene-like nodes reachable over INVOLVED_GENES_EDGES, when there is
      exactly one and it is in SPECIES_NAMESPACE, else None.
    """
    gene_kids: dict[str, list] = {}
    other_kids: dict[str, list] = {}
    for rel, parent, child in child_edges:
        if rel in INVOLVED_GENES_EDGES:
            gene_kids.setdefault(parent, []).append(child)
        if rel in INVOLVED_OTHER_EDGES:
            other_kids.setdefault(parent, []).append(child)

    # extract_nodes appends a term only after all of its children, so in
    # extraction order every child's sets are final before its parent's:
    # one pass is the memoised DFS, without the recursion
    genes: dict[str, tuple[set, set]] = {}  # names, namespaces
    other: dict[str, set] = {}
    out = {}
    for nid, (cls, ns, name) in info.items():
        g_names, g_nss, o_names = set(), set(), set()
        if cls in GENE_LIKE_CLASSES:
            if name:
                g_names.add(name)
            if ns:
                g_nss.add(ns)
        elif name:
            o_names.add(name)
        for kid in gene_kids.get(nid, ()):
            k_names, k_nss = genes[kid]
            g_names |= k_names
            g_nss |= k_nss
        for kid in other_kids.get(nid, ()):
            o_names |= other[kid]
        genes[nid] = (g_names, g_nss)
        other[nid] = o_names
        species = (SPECIES_NAMESPACE.get(next(iter(g_nss)))
                   if len(g_nss) == 1 else None)
        out[nid] = (sorted(g_names), sorted(o_names), species)
    return out


# ---------------------------------------------------------------------------
# statement-context fold
# ---------------------------------------------------------------------------

_EMPTY_CITATION = {"type": "", "title": "", "ref": "", "pub_date": "",
                   "author_list": "", "comment": ""}


def fold_statements(statements_and_sets: list) -> Iterator[dict]:
    """Stream statements with resolved (citation, evidence, annotation)
    context.  Citation resets evidence and annotations
    (importer.py:259-269)."""
    citation = dict(_EMPTY_CITATION)
    evidence = ""
    annotation: dict[str, set] = {}
    pmid = 0
    citation_ref: Optional[str] = None
    citation_type: Optional[str] = None
    stmt_idx = 0

    for e in statements_and_sets:
        dtype, data = next(iter(e.items()))
        if dtype == "sets":
            for bel_set in data:
                key, value = next(iter(bel_set.items()))
                if key == "citation":
                    citation = dict(value)
                    citation_type = citation["type"].strip()
                    citation_ref = citation["ref"].strip()
                    evidence = ""
                    annotation = {}
                    if citation["type"].lower() == "pubmed" and _RE_PMID.search(citation_ref):
                        pmid = int(citation_ref)
                    else:
                        pmid = 0
                elif key == "evidence":
                    evidence = _RE_EVIDENCE_WS.sub(" ", value)
                elif key == "set":
                    kw, vals = next(iter(value.items()))
                    annotation[kw] = set(vals)
                elif key == "unset":
                    for kw in value:
                        annotation.pop(kw, None)
                # statement_group is carried in IR but ignored here,
                # matching importer.py:252-280
        elif dtype == "statement" and len(data) >= 1:
            parts = {k: v for d in data if isinstance(d, dict)
                     for k, v in d.items()}
            yield {
                "stmt_idx": stmt_idx,
                "subject": parts.get("subject"),
                "relation": parts.get("relation"),
                "object": parts.get("object"),
                "nested_subject": parts.get("nested_subject"),
                "nested_relation": (parts.get("nested_relation") or {}).get("relation"),
                "nested_object": parts.get("nested_object"),
                "citation": dict(citation),
                "citation_type": citation_type or None,
                "citation_ref": citation_ref or None,
                "evidence": evidence,
                "annotation": {k: sorted(v) for k, v in annotation.items()},
                "pmid": pmid,
            }
            stmt_idx += 1


def edge_profile(relation: str, subject_id: str, object_id: str,
                 citation_type: Optional[str], citation_ref: Optional[str],
                 evidence: str, annotation: dict) -> str:
    """Deterministic edge-identity key = the reference's 7-tuple
    (importer.py:336-348), hashed.

    The annotation dict is folded with `annotation_flat` (not json.dumps):
    the flat encoding has an exact JVM twin
    (ebel_spark.graph.annotation_flat_col), which lets the parse UDF skip
    emitting edge keys entirely — they are recomputed JVM-side in
    statements_table, cutting ~60% of the Arrow/parquet bytes the parse
    stage has to move."""
    clean_evidence = evidence.replace("\n", " ") if evidence else ""
    raw = "\x1f".join([
        relation, subject_id, object_id,
        citation_type or "\x00", citation_ref or "\x00",
        clean_evidence, annotation_flat(annotation),
    ])
    return hashlib.sha256(raw.encode()).hexdigest()[:32]


def annotation_flat(annotation: dict) -> str:
    """Canonical flat encoding of an annotation dict, sorted by key.
    ASCII control separators keep it injective for grammar-legal keys."""
    return "\x1e".join(
        k + "\x1d" + ",".join(v) for k, v in sorted(annotation.items())
    )
