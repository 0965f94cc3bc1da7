"""End-to-end pipeline: parse -> validate -> link -> materialize, with
per-file lineage checkpointing and resume.

Run via spark-submit (see __main__ at the bottom):

    spark-submit --py-files ebel_spark.zip -m ebel_spark.pipeline \
        --source synthetic:bench --out /tmp/belout

Resumability (north rule): the parsed table is the checkpoint — it is
written to parquet before any downstream stage, and a lineage table records
(file_sha, status, counts, run_id) per file.  A restarted run anti-joins its
input against the lineage table and only parses new files; graph
materialization always rebuilds from the full parsed store (cheap relative
to parsing, and deterministic).

Error gating: mode="force" (default) builds the graph from all files
without *syntax* errors — the reference's force_json path
(/root/reference/ebel/validate.py:106-118); mode="strict" additionally
excludes files with semantic (namespace/annotation) errors — the reference's
default JSON gate (validate.py:124-126).
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import corpus as corpus_mod
from . import graph as G
from . import link as L
from . import parse as P
from . import validate as V
from .namespaces import build_dimensions, dims_to_spark

# the local properties SparkContext.setJobGroup sets
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")

EDGE_COLS = [
    "edge_id", "relation", "relation_category",
    "subject_id", "subject_class", "subject_bel",
    "object_id", "object_class", "object_bel",
    "citation", "evidence", "annotation", "pmid",
    "document_ids", "n_statements",
]


def _align_edges(df: DataFrame) -> DataFrame:
    from pyspark.sql.types import (ArrayType, LongType, MapType, StringType,
                                   StructField, StructType)
    cit_t = StructType([
        StructField("type", StringType()), StructField("title", StringType()),
        StructField("ref", StringType()), StructField("pub_date", StringType()),
        StructField("author_list", StringType()),
        StructField("comment", StringType()),
    ])
    defaults = {
        "subject_class": F.lit(None).cast("string"),
        "subject_bel": F.lit(None).cast("string"),
        "object_class": F.lit(None).cast("string"),
        "object_bel": F.lit(None).cast("string"),
        "citation": F.lit(None).cast(cit_t),
        "evidence": F.lit(None).cast("string"),
        "annotation": F.lit(None).cast(MapType(StringType(),
                                               ArrayType(StringType()))),
        "pmid": F.lit(None).cast(LongType()),
        "document_ids": F.array().cast(ArrayType(StringType())),
        "n_statements": F.lit(0).cast("long"),
    }
    for c in EDGE_COLS:
        if c not in df.columns:
            df = df.withColumn(c, defaults[c])
    return df.select(*EDGE_COLS)


def run_pipeline(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    dims=None,
    mode: str = "force",
    resume: bool = False,
    enrich: bool = True,
    involved: bool = True,
    with_hints: bool = True,
    parse_partitions: int | None = None,
    dedup_source: bool = True,
    run_id: str | None = None,
    repair: bool = False,
    error_report: str | None = None,
    output_format: str = "parquet",
    catalog: str | None = None,
) -> dict:
    """Run the full pipeline; returns a metrics dict."""
    run_id = run_id or uuid.uuid4().hex[:12]
    metrics: dict = {"run_id": run_id, "stages": {}}
    t_total = time.time()

    from . import sinks as S
    if output_format == "iceberg":
        S.require_iceberg(spark, catalog)

    if dims is None:
        dims = build_dimensions()
    dim_dfs = dims_to_spark(spark, dims)

    # each stage runs its Spark jobs in its own job group, so the run can
    # count them per stage; nested stages count towards their parent too
    sc = spark.sparkContext
    token = uuid.uuid4().hex[:12]
    open_stages: list[str] = []
    closed: list[tuple[str, str | None]] = []  # (stage, parent), exit order

    @contextmanager
    def stage(name):
        prev = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        sc.setJobGroup(f"ebel_spark-{token}-{name}", name)
        parent = open_stages[-1] if open_stages else None
        open_stages.append(name)
        t = time.time()
        try:
            yield
        finally:
            metrics["stages"][name] = round(time.time() - t, 3)
            open_stages.pop()
            closed.append((name, parent))
            # restore the caller's group: None clears a property
            for k, v in prev.items():
                sc.setLocalProperty(k, v)

    parsed_path = os.path.join(out_dir, "parsed")
    lineage_path = os.path.join(out_dir, "lineage")

    # ---- 1. parse (the checkpoint) ---------------------------------------
    with stage("parse"):
        # dedupe the source ONCE by content hash; combined with the lineage
        # anti-join this guarantees unique file_sha in the parsed store, so
        # no downstream consumer ever needs a (wide) dropDuplicates.
        # NOTE this shuffles the full content column — when source
        # uniqueness is an ingest invariant (Iceberg upsert key, or a
        # synthetic corpus), pass dedup_source=False and skip that shuffle.
        # reference validate.py:237-249 only accepts `%.bel` paths from a
        # directory; a mixed-language lakehouse table additionally carries
        # a lang column.  Both predicates push down to the scan so non-BEL
        # rows never reach the parse UDF.
        src = src.filter(
            F.col("path").endswith(".bel")
            & (F.col("lang").isNull() | (F.col("lang") == "bel"))
        )
        src = P.with_file_sha(src)
        if repair:
            # sha256 invariant stays on the ORIGINAL content (the row
            # identity vs the source table); the parser sees the repaired
            # text, like the reference's repair -> validate flow
            from . import repair as R
            src = R.repair_sources(src)
        if dedup_source:
            src = src.dropDuplicates(["file_sha"])
        # the resume anti-join keys on the PARSED STORE itself (column
        # pruning keeps the scan one sha column wide), not the lineage
        # table: a crash between the parsed append and the lineage
        # overwrite would leave lineage stale, and a lineage-keyed resume
        # would then re-append the same files — duplicating every
        # downstream count.  The store is the source of truth for what
        # was parsed; lineage is a derived report.
        if resume and S.has_data(spark, parsed_path):
            done = spark.read.parquet(parsed_path).select("file_sha")
            todo = src.join(done, "file_sha", "left_anti")
        elif S.has_data(spark, parsed_path):
            raise ValueError(
                f"parsed store already exists at {parsed_path}; pass "
                "resume=True to continue it or choose a fresh out_dir "
                "(appending a second full run would duplicate file_sha "
                "rows and double-count all downstream tables)")
        else:
            todo = src
        parsed_new = P.parse_sources(todo, repartition=parse_partitions)
        parsed_new.write.mode("append").parquet(parsed_path)
        parsed = spark.read.parquet(parsed_path)

    # lineage for all files in the parsed store (scalar columns only —
    # parquet column pruning keeps this scan narrow).  File/statement
    # counters ride along as observed metrics of the same write job
    # instead of separate count() scans.
    with stage("lineage"):
        obs_lineage = Observation("lineage")
        lineage = parsed.select(
            "file_sha", "repo", "path",
            F.when(F.col("ok"), F.lit("parsed_ok"))
            .otherwise(F.lit("syntax_error")).alias("status"),
            F.col("n_statements").cast("int").alias("n_statements"),
            F.col("n_syntax_errors").cast("int").alias("n_errors"),
            F.lit(run_id).alias("run_id"),
        ).observe(
            obs_lineage,
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_statements").alias("n_statements"),
            F.sum((F.col("status") == "parsed_ok").cast("int")).alias("n_ok"),
            F.sum(F.when(F.col("status") == "parsed_ok",
                         F.col("n_statements")).otherwise(0)).alias("n_stmt_ok"),
        )
        if output_format == "iceberg" and catalog:
            # MERGE keyed on file_sha: unchanged rows keep their data
            # files (snapshot isolation, no directory rewrite) — the
            # resume primitive at 10^12-file scale
            S.upsert_lineage(spark, lineage, catalog, run_id=run_id)
        else:
            lineage.write.mode("overwrite").parquet(lineage_path)
        lin = obs_lineage.get
        metrics["n_files"] = lin["n_files"]
        metrics["n_statements"] = int(lin["n_statements"] or 0)

    # ---- 2. derived tables -------------------------------------------------
    # Multi-consumer intermediates (nodes0, edges_stmt, nodes2) are written
    # to parquet under _stage/ and read back: the write cuts the lineage,
    # so no consumer re-executes the parse/aggregate DAG above it (at 100 TB
    # a multi-x recompute of the most expensive stages).  Persisting them
    # MEMORY_AND_DISK instead measured ~2x slower on a 4-core host: the
    # edge DAG re-executed inside the final write, 1576 tasks against 336.
    def _ckpt(df: DataFrame, name: str) -> DataFrame:
        p = os.path.join(out_dir, "_stage", name)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    statements = P.statements_table(parsed)
    nodes_raw = P.nodes_table(parsed)
    child_edges_raw = P.child_edges_table(parsed)

    # ---- 3. validation -------------------------------------------------------
    with stage("validate"):
        # semantic errors apply to parseable files only.  Validation is one
        # join of their entries against their definitions, so both are
        # exploded straight from the parsed store (column pruning keeps the
        # scan narrow): with a single consumer there is nothing to
        # checkpoint
        ok = parsed.filter("ok")
        sem_errors = V.semantic_errors(
            P.entries_table(ok), P.definitions_table(ok),
            dim_dfs["ns_dict"], dim_dfs["anno_dict"],
            with_hints=with_hints,
        )
        syn_errors = P.syntax_errors_table(parsed)
        obs_err = Observation("errors")
        errors = syn_errors.unionByName(sem_errors).observe(
            obs_err, F.count(F.lit(1)).alias("n"))
        errors.write.mode("overwrite").parquet(os.path.join(out_dir, "errors"))
        errors = spark.read.parquet(os.path.join(out_dir, "errors"))
        metrics["n_errors"] = obs_err.get["n"]
        if error_report:
            V.write_error_report(errors, error_report)

        # ---- 4. gate files ---------------------------------------------------
        if mode == "strict":
            bad = errors.select("file_sha").distinct()
            valid_files = parsed.select("file_sha", "ok").filter("ok") \
                .join(bad, "file_sha", "left_anti").select("file_sha")
            metrics["n_valid_files"] = valid_files.count()
        else:
            valid_files = parsed.filter("ok").select("file_sha")
            # SUM over an empty store observes null, not 0
            metrics["n_valid_files"] = int(lin["n_ok"] or 0)

    # ---- 5. graph materialization --------------------------------------------
    with stage("materialize"):
        st_valid = statements.join(valid_files, "file_sha", "left_semi")
        with stage("materialize.nodes0"):
            nodes = _ckpt(
                G.materialize_nodes(
                    nodes_raw.join(valid_files, "file_sha", "left_semi")),
                "nodes0")
        with stage("materialize.edges_stmt"):
            # the wide frame checkpoints once; p2g only probes which
            # object_ids already have an incoming translated_to /
            # transcribed_to edge, a KB-sized projection read back from it
            edges_stmt = _ckpt(G.materialize_edges(st_valid), "edges_stmt")
            p2g_probe = edges_stmt.filter(F.col("relation").isin(
                ["translated_to", "transcribed_to"]))\
                .select("relation", "object_id")
        # the has__* edges have one consumer, the edges write below, so
        # they are derived inside it rather than checkpointed
        struct_edges = G.materialize_structural_edges(
            child_edges_raw.join(valid_files, "file_sha", "left_semi"))

        with stage("materialize.p2g"):
            nodes, p2g_edges = G.protein2gene(nodes, p2g_probe)

        all_edges = (
            _align_edges(edges_stmt)
            .unionByName(_align_edges(p2g_edges))
            .unionByName(_align_edges(struct_edges.select(
                "edge_id", "relation", "relation_category", "subject_id",
                "object_id", "document_ids", "n_statements"))))
        obs_edges = Observation("edges")
        all_edges = all_edges.observe(
            obs_edges,
            F.count(F.lit(1)).alias("n_edges"),
            F.sum((F.col("relation_category") != "ebel").cast("long"))
            .alias("n_triples"),
        )
        edges_out = S.write_table(
            spark, all_edges, "edges", out_dir, fmt=output_format,
            catalog=catalog, partition_by="relation_category")
        eo = obs_edges.get
        metrics["n_triples"] = int(eo["n_triples"] or 0)
        metrics["n_edges"] = int(eo["n_edges"])

    with stage("rollup"):
        # involved_* and inferred_species come per term from the compiler;
        # what is left is the species rule, which needs the edge table
        nodes = G.tag_species(
            nodes, edges_out.filter(F.col("relation_category") != "ebel"))
        if not involved:
            nodes = nodes.drop("involved_genes", "involved_other")
        # link_hgnc consumes its input twice (existing-names anti-join),
        # so the node table is materialized exactly once here
        nodes = _ckpt(nodes, "nodes2")

    with stage("link"):
        if enrich:
            nodes = L.link_all(nodes, dim_dfs["hgnc"], dim_dfs["uniprot"],
                               dim_dfs["chebi"])

    # ---- 6. write output tables ------------------------------------------------
    with stage("write"):
        obs_nodes = Observation("nodes")
        S.write_table(
            spark, nodes.observe(obs_nodes, F.count(F.lit(1)).alias("n")),
            "nodes", out_dir, fmt=output_format, catalog=catalog,
            partition_by="node_class")
        S.write_table(
            spark, P.documents_table(parsed), "documents", out_dir,
            fmt=output_format, catalog=catalog)
        metrics["n_nodes"] = obs_nodes.get["n"]

    metrics["wall_s"] = round(time.time() - t_total, 3)
    # counted after the run, not at each stage's exit: the status store is
    # fed by an asynchronous listener, so a job's start may not be in it
    # the moment the job returns
    tracker = sc.statusTracker()
    stage_jobs = {n: len(tracker.getJobIdsForGroup(f"ebel_spark-{token}-{n}"))
                  for n, _ in closed}
    for name, parent in closed:  # children close before their parent
        if parent is not None:
            stage_jobs[parent] += stage_jobs[name]
    metrics["stage_jobs"] = stage_jobs
    metrics["n_jobs"] = sum(stage_jobs[n] for n, p in closed if p is None)
    metrics["driver_memory"] = sc.getConf().get("spark.driver.memory", None)
    metrics["task_slots"] = sc.defaultParallelism

    with open(os.path.join(out_dir, f"metrics_{run_id}.json"), "w") as fd:
        json.dump(metrics, fd, indent=2)
    from . import sinks
    sinks.write_metrics_table(spark, metrics, out_dir)
    return metrics


def verify_invariant(spark: SparkSession, src: DataFrame, out_dir: str) -> int:
    """Per-row invariant (BASELINE.json): sha256(content) of every source row
    must appear unchanged in the output documents table.  Returns the number
    of violating rows (0 = pass)."""
    docs = spark.read.parquet(os.path.join(out_dir, "documents")) \
        .select("file_sha").distinct()
    expected = P.with_file_sha(src).select("file_sha").distinct()
    return expected.join(docs, "file_sha", "left_anti").count()


# ---------------------------------------------------------------------------
# spark-submit entry point
# ---------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description="ebel_spark pipeline")
    ap.add_argument("--source", default="synthetic:small",
                    help="parquet path or synthetic:{small|bench|N,M}")
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", choices=["force", "strict"], default="force")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--no-enrich", action="store_true")
    ap.add_argument("--no-involved", action="store_true")
    ap.add_argument("--no-hints", action="store_true")
    ap.add_argument("--parse-partitions", type=int, default=None)
    ap.add_argument("--repair", action="store_true",
                    help="repair snake_cased relations + evidence wrapping "
                         "before parsing (reference validate.py:141-222)")
    ap.add_argument("--error-report", default=None,
                    help="also write a .csv/.tsv/.json/.txt/.md/.html/.xlsx error report")
    ap.add_argument("--format", choices=["parquet", "iceberg"],
                    default="parquet",
                    help="output table format (iceberg needs the runtime "
                         "jar + a catalog conf, see ebel_spark/sinks.py)")
    ap.add_argument("--catalog", default=None,
                    help="Iceberg catalog name for --format iceberg")
    args = ap.parse_args(argv)

    from .session import get_spark
    spark = get_spark(cores=args.cores, app_name="ebel-spark-pipeline")

    if args.source.startswith("synthetic:"):
        spec = args.source.split(":", 1)[1]
        if spec == "small":
            profile = corpus_mod.SMALL
        elif spec == "bench":
            profile = corpus_mod.BENCH
        else:
            n, m = (int(x) for x in spec.split(","))
            profile = corpus_mod.CorpusProfile(n_files=n,
                                               statements_per_file=m)
        src = corpus_mod.corpus_spark(spark, profile)
    elif args.source.startswith("table:"):
        # catalog table (Iceberg/Hive) with the input_hint schema
        # (repo, path, commit, lang, content)
        src = spark.read.table(args.source.split(":", 1)[1])
    else:
        src = spark.read.parquet(args.source)

    metrics = run_pipeline(
        spark, src, args.out, mode=args.mode, resume=args.resume,
        enrich=not args.no_enrich, involved=not args.no_involved,
        with_hints=not args.no_hints,
        parse_partitions=args.parse_partitions,
        repair=args.repair, error_report=args.error_report,
        output_format=args.format, catalog=args.catalog,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
