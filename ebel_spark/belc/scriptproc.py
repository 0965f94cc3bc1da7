"""Per-file BEL processing: parse -> fold -> flat rows.

This is the worker-side payload of the Spark parse UDF: one call per file
row, returning plain-python rows ready for Arrow serialization.  No Spark
imports here so it is unit-testable and reusable.
"""

from __future__ import annotations

import json
from typing import Any, Optional

from .canon import (bel_string, edge_profile, extract_nodes, fold_statements,
                    term_rollups)
from .parse import parse_script
from .vocab import RELATION_CATEGORY


def process_file(
    content: str,
    materialize_modifiers: bool = False,
    keep_ir: bool = False,
    emit_ids: bool = True,
) -> dict[str, Any]:
    """Parse + compile one BEL script.

    Returns a dict of row-lists; all values are JSON-safe primitives so the
    result maps 1:1 onto the Spark schema in :mod:`ebel_spark.schemas`.
    """
    res = parse_script(content)

    statements: list[dict] = []
    nodes_raw: list[tuple] = []
    child_edges_raw: list[tuple] = []
    # per-file bel_string memo: extraction + statement assembly stringify
    # every level of the same live term trees (~10 calls/statement)
    memo: dict = {}

    if res.ok:
        for st in fold_statements(res.statements_and_sets):
            subj = st["subject"]
            subject_class = subject_bel = subject_id = None
            if subj is not None:
                subject_class, subject_id = extract_nodes(
                    subj, nodes_raw, child_edges_raw, materialize_modifiers,
                    memo)
                subject_bel = bel_string(subj, memo=memo)

            obj = st["object"]
            object_class = object_bel = object_id = None
            relation = st["relation"]
            edge_key = None
            if obj is not None and relation is not None:
                object_class, object_id = extract_nodes(
                    obj, nodes_raw, child_edges_raw, materialize_modifiers,
                    memo)
                object_bel = bel_string(obj, memo=memo)
                if emit_ids:
                    edge_key = edge_profile(
                        relation, subject_id, object_id,
                        st["citation_type"], st["citation_ref"],
                        st["evidence"], st["annotation"],
                    )

            row = {
                "stmt_idx": st["stmt_idx"],
                "subject_bel": subject_bel,
                "subject_class": subject_class,
                "relation": relation,
                "relation_category": RELATION_CATEGORY.get(relation) if relation else None,
                "object_bel": object_bel,
                "object_class": object_class,
                "nested": st["nested_subject"] is not None,
                "citation_type": st["citation_type"],
                "citation_ref": st["citation_ref"],
                "citation_title": st["citation"].get("title") or None,
                "citation_pub_date": st["citation"].get("pub_date") or None,
                "citation_author_list": st["citation"].get("author_list") or None,
                "citation_comment": st["citation"].get("comment") or None,
                "evidence": st["evidence"] or None,
                "annotation": {k: list(v) for k, v in st["annotation"].items()},
                "pmid": st["pmid"],
            }
            if emit_ids:
                # ids are derivable (sha256 of class|bel / the 7-tuple) and
                # have exact JVM twins; the Spark path recomputes them in
                # statements_table instead of shipping ~60% more Arrow bytes
                row["subject_id"] = subject_id
                row["object_id"] = object_id
                row["edge_key"] = edge_key
            statements.append(row)

    # within-file node dedup: same (class, bel) -> one row, OR the
    # has_modifiers flags (bel string determines modifiers, so flags agree)
    node_map: dict[tuple, list] = {}
    for node_class, bel, namespace, name, props, has_mods, nid in nodes_raw:
        key = (node_class, bel)
        row = node_map.get(key)
        if row is None:
            node_map[key] = [node_class, bel, namespace, name, props,
                             has_mods, nid]
        elif has_mods:
            row[5] = True
    child_edges_raw = list(dict.fromkeys(child_edges_raw))
    rollups = term_rollups(
        {r[6]: (r[0], r[2], r[3]) for r in node_map.values()},
        child_edges_raw)
    nodes = []
    for c, b, ns, nm, pr, hm, nid in node_map.values():
        genes, other, species = rollups[nid]
        nodes.append({"node_class": c, "bel": b, "namespace": ns,
                      "name": nm, "props": pr, "has_modifiers": hm,
                      "involved_genes": genes, "involved_other": other,
                      "inferred_species": species})

    child_edges = [
        {"relation": rel, "subject_id": s, "object_id": o}
        for rel, s, o in child_edges_raw
    ]

    out: dict[str, Any] = {
        "ok": res.ok,
        "document": dict(sorted(res.document.items())),
        "definitions": [
            {"is_annotation": ia, "keyword": kw, "def_type": dt,
             "value": v, "value_list": list(vl), "line": ln}
            for ia, kw, dt, v, vl, ln in res.defs
        ],
        "ns_entries": [
            {"keyword": k, "entry": e, "line": ln, "col": c}
            for k, e, ln, c in res.ns_entries
        ],
        "anno_entries": [
            {"keyword": k, "entry": e, "line": ln, "col": c}
            for k, e, ln, c in res.anno_entries
        ],
        "syntax_errors": res.syntax_errors,
        "statements": statements,
        "nodes": nodes,
        "child_edges": child_edges,
        "ir_json": None,
    }
    if keep_ir and res.ok:
        out["ir_json"] = json.dumps(res.tree(), indent=1)
    return out


def ir_tree(content: str) -> Optional[list]:
    """Reference-shaped 3-part IR (for differential tests)."""
    return parse_script(content).tree()
