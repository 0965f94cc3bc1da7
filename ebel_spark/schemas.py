"""Spark schemas for the BEL pipeline tables.

The input contract matches BASELINE.json `input_hint`: an Iceberg/parquet
table of source files `(repo, path, commit, lang, content)`.  `file_sha` =
sha256(content) computed JVM-side is the per-row invariant carried through
every derived table.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

S = StringType()
I = IntegerType()
L = LongType()
B = BooleanType()


def _f(name, dtype, nullable=True):
    return StructField(name, dtype, nullable)


SOURCE_SCHEMA = StructType([
    _f("repo", S), _f("path", S), _f("commit", S), _f("lang", S),
    _f("content", S),
])

DEFINITION_T = StructType([
    _f("is_annotation", B), _f("keyword", S), _f("def_type", S),
    _f("value", S), _f("value_list", ArrayType(S)), _f("line", I),
])

ENTRY_T = StructType([
    _f("keyword", S), _f("entry", S), _f("line", I), _f("col", I),
])

SYNTAX_ERROR_T = StructType([
    _f("error_class", S), _f("line", I), _f("column", I),
    _f("entry", S), _f("hint", S),
])

# NB: no subject_id / object_id / edge_key here — the hash ids are ~60% of
# the parse stage's Arrow/parquet bytes and are recomputed JVM-side in
# parse.statements_table via their codegen twins (graph.node_id_col /
# edge_key_col), keeping the UDF boundary narrow.
STATEMENT_T = StructType([
    _f("stmt_idx", I),
    _f("subject_bel", S), _f("subject_class", S),
    _f("relation", S), _f("relation_category", S),
    _f("object_bel", S), _f("object_class", S),
    _f("nested", B),
    _f("citation_type", S), _f("citation_ref", S), _f("citation_title", S),
    _f("citation_pub_date", S), _f("citation_author_list", S),
    _f("citation_comment", S),
    _f("evidence", S),
    _f("annotation", MapType(S, ArrayType(S))),
    _f("pmid", L),
    _f("edge_key", S),
])

# involved_genes / involved_other / inferred_species: the per-term has__*
# rollups (belc.canon.term_rollups), identical for a term in every file
NODE_T = StructType([
    _f("node_class", S), _f("bel", S), _f("namespace", S), _f("name", S),
    _f("props", S), _f("has_modifiers", B),
    _f("involved_genes", ArrayType(S)), _f("involved_other", ArrayType(S)),
    _f("inferred_species", I),
])

CHILD_EDGE_T = StructType([
    _f("relation", S), _f("subject_id", S), _f("object_id", S),
])

PARSED_SCHEMA = StructType([
    _f("file_sha", S, False),
    _f("repo", S), _f("path", S), _f("commit", S), _f("lang", S),
    _f("ok", B, False),
    _f("document", MapType(S, S)),
    _f("definitions", ArrayType(DEFINITION_T)),
    _f("ns_entries", ArrayType(ENTRY_T)),
    _f("anno_entries", ArrayType(ENTRY_T)),
    _f("syntax_errors", ArrayType(SYNTAX_ERROR_T)),
    _f("statements", ArrayType(STATEMENT_T)),
    _f("nodes", ArrayType(NODE_T)),
    _f("child_edges", ArrayType(CHILD_EDGE_T)),
    _f("n_statements", I, False),
    _f("n_syntax_errors", I, False),
    _f("ir_json", S),
])

# dimension tables (broadcast side) ------------------------------------------

NAMESPACE_DICT_SCHEMA = StructType([
    _f("keyword", S), _f("name", S), _f("encoding", S),
])

ANNOTATION_DICT_SCHEMA = StructType([
    _f("keyword", S), _f("name", S), _f("identifier", S),
])

HGNC_SCHEMA = StructType([
    _f("symbol", S), _f("label", S), _f("location", S),
    _f("prev_symbols", ArrayType(S)), _f("entrez_id", L),
    _f("uniprot_ids", ArrayType(S)),
])

UNIPROT_SCHEMA = StructType([
    _f("accession", S), _f("recommended_name", S), _f("taxid", I),
    _f("gene_symbol", S),
])

CHEBI_SCHEMA = StructType([
    _f("chebi_id", L), _f("name", S),
])

# output graph tables ----------------------------------------------------------

ERROR_REPORT_COLUMNS = (
    "file_sha", "error_class", "url", "keyword", "entry",
    "line_number", "column", "hint",
)

LINEAGE_SCHEMA = StructType([
    _f("file_sha", S), _f("repo", S), _f("path", S),
    _f("status", S), _f("n_statements", I), _f("n_errors", I),
    _f("run_id", S),
])
