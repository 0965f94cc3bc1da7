"""Distributed BEL parsing: the one Python surface of the pipeline.

`parse_sources` maps the source table `(repo, path, commit, lang, content)`
through the clean-room compiler with ``mapInPandas`` (Arrow batches, one
Python process per core — replaces the reference's single-threaded Lark loop,
/root/reference/ebel/parser.py:304-336).  Everything downstream is plain
DataFrame algebra.

Scale notes:
- the file row is the unit of work; SET/UNSET context is order-dependent
  *within* a file only (importer.py:243-305), so a row never splits across
  partitions and no cross-partition state exists.
- sha256(content) is computed JVM-side *before* the UDF and carried through
  as the per-row invariant (BASELINE.json input_hint).
- explode helpers derive the statement / node / entry / error tables; in the
  pipeline the parsed table is persisted first so the UDF runs once.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .belc.scriptproc import process_file
from .schemas import PARSED_SCHEMA


# Files per yielded output frame.  Small chunks pipeline: the JVM converts
# chunk k to UnsafeRows while Python parses chunk k+1, and neither side ever
# holds a multi-hundred-MB Arrow batch (the parsed row is ~30-50x wider than
# the source row, so the input-side maxRecordsPerBatch is far too coarse).
_PARSE_CHUNK = 64


def _make_parser(keep_ir: bool):
    cols = [f.name for f in PARSED_SCHEMA.fields]

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for s in range(0, len(pdf), _PARSE_CHUNK):
                sub = pdf.iloc[s:s + _PARSE_CHUNK]
                out: dict[str, list] = {c: [] for c in cols}
                for row in sub.itertuples(index=False):
                    try:
                        r = process_file(
                            row.content or "",
                            keep_ir=keep_ir,
                            emit_ids=False,  # recomputed JVM-side
                        )
                    except Exception as exc:  # noqa: BLE001
                        # ultimate containment: ONE pathological file must
                        # never fail the task (4 retries would then abort
                        # the whole job at 10^12-file scale); it degrades
                        # to a lineage-visible error row instead
                        r = {
                            "ok": False, "document": {}, "definitions": [],
                            "ns_entries": [], "anno_entries": [],
                            "syntax_errors": [{
                                "error_class": "InternalParserError",
                                "line": 0, "column": 0, "entry": "",
                                "hint": f"{type(exc).__name__}: {exc}"[:500],
                            }],
                            "statements": [], "nodes": [],
                            "child_edges": [], "ir_json": None,
                        }
                    out["file_sha"].append(row.file_sha)
                    out["repo"].append(row.repo)
                    out["path"].append(row.path)
                    out["commit"].append(row.commit)
                    out["lang"].append(row.lang)
                    out["ok"].append(r["ok"])
                    out["document"].append(r["document"])
                    out["definitions"].append(r["definitions"])
                    out["ns_entries"].append(r["ns_entries"])
                    out["anno_entries"].append(r["anno_entries"])
                    out["syntax_errors"].append(r["syntax_errors"])
                    out["statements"].append(r["statements"])
                    out["nodes"].append(r["nodes"])
                    out["child_edges"].append(r["child_edges"])
                    out["n_statements"].append(len(r["statements"]))
                    out["n_syntax_errors"].append(len(r["syntax_errors"]))
                    out["ir_json"].append(r["ir_json"])
                yield pd.DataFrame(out)

    return parse_batches


def with_file_sha(src: DataFrame) -> DataFrame:
    """Attach the per-row invariant sha256(content) (JVM-side, codegen)."""
    return src.withColumn("file_sha", F.sha2(F.col("content"), 256))


def parse_sources(
    src: DataFrame,
    keep_ir: bool = False,
    repartition: int | None = None,
) -> DataFrame:
    """source table -> one parsed row per file (see PARSED_SCHEMA)."""
    if "file_sha" not in src.columns:
        src = with_file_sha(src)
    if repartition:
        # spread files evenly across cores; parse cost ~ content size, the
        # hash key decorrelates adjacent large files
        src = src.repartition(repartition, "file_sha")
    fn = _make_parser(keep_ir)
    return src.select(
        "file_sha", "repo", "path", "commit", "lang", "content"
    ).mapInPandas(fn, PARSED_SCHEMA)


# ---------------------------------------------------------------------------
# derived (exploded) tables — pure column ops, no Python
# ---------------------------------------------------------------------------

def statements_table(parsed: DataFrame) -> DataFrame:
    """Explode the per-file statement arrays and re-derive the hash ids
    (subject_id / object_id / edge_key) with the JVM twins of the compiler's
    id functions — whole-stage-codegen sha256 instead of 60% more Arrow
    traffic out of the Python UDF."""
    from .graph import annotation_flat_col, edge_key_col, node_id_col

    st = parsed.select(
        "file_sha", "repo", "path",
        F.explode("statements").alias("s"),
    ).select("file_sha", "repo", "path", "s.*")
    subj_ok = F.col("subject_bel").isNotNull()
    obj_ok = F.col("object_bel").isNotNull()  # set iff object AND relation
    st = st.withColumns({
        "subject_id": F.when(
            subj_ok, node_id_col(F.col("subject_class"),
                                 F.col("subject_bel"))),
        "object_id": F.when(
            obj_ok, node_id_col(F.col("object_class"), F.col("object_bel"))),
    })
    return st.withColumn(
        "edge_key",
        F.when(obj_ok, edge_key_col(
            F.col("relation"), F.col("subject_id"), F.col("object_id"),
            F.col("citation_type"), F.col("citation_ref"),
            F.col("evidence"), annotation_flat_col(F.col("annotation")))),
    )


def nodes_table(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "file_sha", F.explode("nodes").alias("n")
    ).select("file_sha", "n.*")


def child_edges_table(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "file_sha", F.explode("child_edges").alias("e")
    ).select("file_sha", "e.*")


def entries_table(parsed: DataFrame) -> DataFrame:
    """Namespace + annotation usages with positions (validation input)."""
    ns = parsed.select(
        "file_sha", F.explode("ns_entries").alias("e")
    ).select("file_sha", F.lit("ns").alias("kind"), "e.*")
    anno = parsed.select(
        "file_sha", F.explode("anno_entries").alias("e")
    ).select("file_sha", F.lit("anno").alias("kind"), "e.*")
    return ns.unionByName(anno)


def definitions_table(parsed: DataFrame) -> DataFrame:
    d = parsed.select(
        "file_sha", F.explode("definitions").alias("d")
    ).select("file_sha", "d.*")
    return d.withColumn(
        "kind", F.when(F.col("is_annotation"), F.lit("anno")).otherwise(F.lit("ns"))
    )


def syntax_errors_table(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "file_sha", F.explode("syntax_errors").alias("e")
    ).select(
        "file_sha",
        F.col("e.error_class").alias("error_class"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("keyword"),
        F.col("e.entry").alias("entry"),
        F.col("e.line").alias("line_number"),
        F.col("e.column").alias("column"),
        F.col("e.hint").alias("hint"),
    )


def documents_table(parsed: DataFrame) -> DataFrame:
    """One row per BEL document (mirrors bel_document, importer.py:146-206)."""
    return parsed.select(
        "file_sha", "repo", "path", "commit", "lang", "ok",
        F.element_at("document", "name").alias("name"),
        F.element_at("document", "version").alias("version"),
        F.element_at("document", "description").alias("description"),
        F.split(F.element_at("document", "authors"), r"\s*,\s*").alias("authors"),
        F.element_at("document", "contact_info").alias("contact_info"),
        F.element_at("document", "copyright").alias("copyright"),
        F.element_at("document", "licences").alias("licences"),
        "n_statements", "n_syntax_errors",
    )
