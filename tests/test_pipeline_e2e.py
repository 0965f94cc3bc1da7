"""End-to-end pipeline test: synthetic corpus -> parse -> validate -> graph,
with resume and the per-row sha256 invariant (BASELINE.json input_hint)."""

import pytest
from pyspark.sql import functions as F

from ebel_spark.corpus import CorpusProfile, corpus_spark
from ebel_spark.pipeline import run_pipeline, verify_invariant


# regression snapshot of the `out` fixture's build, incl. the p2g
# translated_to / transcribed_to edges (see test_regression_snapshot)
SNAPSHOT_METRICS = {
    "n_files": 20, "n_statements": 572, "n_valid_files": 19, "n_errors": 26,
    "n_triples": 1293, "n_edges": 1411, "n_nodes": 1493,
}
# the n_errors rows per error_class
SNAPSHOT_ERRORS = {
    "BelSyntaxError_unexpected_token": 1, "NotInAnnotationList": 12,
    "NotInNamespaceUrl": 13,
}
SNAPSHOT_RELATIONS = {
    "association": 25, "causes_no_change": 12, "decreases": 104,
    "directly_decreases": 44, "directly_increases": 67, "equivalent_to": 6,
    "has__protein": 118, "has_member": 3, "increases": 172, "is_a": 4,
    "negative_correlation": 23, "orthologous": 2, "positive_correlation": 47,
    "regulates": 24, "transcribed_to": 380, "translated_to": 380,
}
SNAPSHOT_CLASSES = {
    "abundance": 100, "activity": 37, "biological_process": 79,
    "complex": 37, "degradation": 20, "gene": 442, "micro_rna": 13,
    "pathology": 5, "protein": 380, "rna": 380,
}
# per node_class: nodes with non-empty involved_genes / involved_other and
# with a species (the has__* rollups and species tagging)
SNAPSHOT_ROLLUPS = {
    "involved_genes": {"activity": 37, "complex": 31, "degradation": 20,
                       "gene": 442, "protein": 380, "rna": 380},
    "involved_other": {"abundance": 100, "biological_process": 79,
                       "complex": 6, "micro_rna": 13, "pathology": 5},
    "species": {"activity": 34, "complex": 30, "degradation": 20,
                "gene": 442, "protein": 380, "rna": 380},
}


@pytest.fixture(scope="module")
def out(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("belout"))
    profile = CorpusProfile(n_files=20, statements_per_file=30)
    src = corpus_spark(spark, profile, partitions=4)
    sc = spark.sparkContext
    sc.setJobGroup("e2e-caller", "caller's group")
    metrics = run_pipeline(spark, src, out_dir, run_id="t1")
    group_after = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return {"dir": out_dir, "metrics": metrics, "src": src,
            "group_after": group_after}


class TestPipelineE2E:
    def test_metrics_sane(self, out):
        m = out["metrics"]
        assert m["n_files"] == 20
        assert 0 < m["n_valid_files"] <= 20
        assert m["n_statements"] > 200
        assert m["n_triples"] > 100
        assert m["n_nodes"] > 100

    def test_regression_snapshot(self, spark, out):
        """Regression snapshot, NOT a reference oracle: the exact counts
        this corpus (20 files x 30 statements, default seed) produced when
        the snapshot was recorded.  Any change to parse, validation, dedup,
        protein2gene, the path guard, the has__* rollups or species
        tagging moves at least one of them."""
        m = out["metrics"]
        assert {k: m[k] for k in SNAPSHOT_METRICS} == SNAPSHOT_METRICS
        edges = spark.read.parquet(out["dir"] + "/edges")
        nodes = spark.read.parquet(out["dir"] + "/nodes")
        errors = spark.read.parquet(out["dir"] + "/errors")
        assert {r["error_class"]: r["count"] for r in
                errors.groupBy("error_class").count().collect()} \
            == SNAPSHOT_ERRORS
        assert {r["relation"]: r["count"] for r in
                edges.groupBy("relation").count().collect()} \
            == SNAPSHOT_RELATIONS
        assert {r["node_class"]: r["count"] for r in
                nodes.groupBy("node_class").count().collect()} \
            == SNAPSHOT_CLASSES
        for col, pred in (
                ("involved_genes", F.size("involved_genes") > 0),
                ("involved_other", F.size("involved_other") > 0),
                ("species", F.col("species").isNotNull())):
            assert {r["node_class"]: r["count"] for r in
                    nodes.filter(pred).groupBy("node_class").count()
                    .collect()} == SNAPSHOT_ROLLUPS[col], col

    def test_stage_jobs(self, spark, out):
        """Every stage counts its Spark jobs, nested stages count towards
        their parent, and the caller's job group is back afterwards."""
        m = out["metrics"]
        jobs = m["stage_jobs"]
        assert list(jobs) == list(m["stages"])
        nested = [s for s in jobs if s.startswith("materialize.")]
        assert nested and jobs["materialize"] >= sum(jobs[s] for s in nested)
        top = [s for s in jobs if "." not in s]
        assert m["n_jobs"] == sum(jobs[s] for s in top) > 0
        assert all(jobs[s] > 0 for s in ("parse", "validate", "write"))
        # validation is one classified join: 15 jobs on this corpus
        assert jobs["validate"] <= 15
        assert m["task_slots"] == spark.sparkContext.defaultParallelism
        assert m["driver_memory"] == spark.conf.get("spark.driver.memory")
        assert out["group_after"] == "e2e-caller"
        table = {r.metric: r.value for r in
                 spark.read.parquet(out["dir"] + "/metrics")
                 .filter("run_id = 't1'").collect()}
        assert table["stage_jobs.rollup"] == jobs["rollup"]
        assert table["n_jobs"] == m["n_jobs"]

    def test_row_invariant(self, spark, out):
        assert verify_invariant(spark, out["src"], out["dir"]) == 0

    def test_only_syntax_clean_files_in_graph(self, spark, out):
        lineage = spark.read.parquet(out["dir"] + "/lineage")
        bad = {r.file_sha for r in
               lineage.filter("status = 'syntax_error'").collect()}
        edges = spark.read.parquet(out["dir"] + "/edges")
        docs = {d for r in edges.select("document_ids").collect()
                for d in r.document_ids}
        assert not (docs & bad)

    def test_resume_parses_nothing_new(self, spark, out):
        m2 = run_pipeline(spark, out["src"], out["dir"], resume=True,
                          run_id="t2")
        assert m2["n_files"] == out["metrics"]["n_files"]
        assert m2["n_triples"] == out["metrics"]["n_triples"]
        assert m2["n_nodes"] == out["metrics"]["n_nodes"]
        parsed = spark.read.parquet(out["dir"] + "/parsed")
        assert parsed.count() == 20  # no duplicate parse rows appended

    def test_partial_resume_completes_and_matches(self, spark, out,
                                                  tmp_path_factory):
        """The real checkpoint-resume claim: run HALF the corpus, then
        resume with the FULL corpus — the lineage anti-join must parse
        only the missing files, and the final graph must equal the
        one-shot run's (same edge keys, same node/triple counts)."""
        out_dir = str(tmp_path_factory.mktemp("belout_partial"))
        src = out["src"]
        half = src.filter(F.crc32(F.col("path")) % 2 == 0)
        n_half = half.count()
        assert 0 < n_half < 20
        run_pipeline(spark, half, out_dir, run_id="p1")
        parsed_1 = spark.read.parquet(out_dir + "/parsed").count()
        assert parsed_1 == n_half
        m2 = run_pipeline(spark, src, out_dir, resume=True, run_id="p2")
        assert m2["n_files"] == 20
        assert spark.read.parquet(out_dir + "/parsed").count() == 20
        assert m2["n_triples"] == out["metrics"]["n_triples"]
        assert m2["n_nodes"] == out["metrics"]["n_nodes"]
        got = spark.read.parquet(out_dir + "/edges")
        ref = spark.read.parquet(out["dir"] + "/edges")
        assert got.count() == ref.count()
        assert (got.select("edge_id").exceptAll(ref.select("edge_id"))
                .count() == 0)

    def test_resume_survives_stale_lineage(self, spark, out,
                                            tmp_path_factory):
        """Crash-window claim: the resume anti-join keys on the PARSED
        STORE, so a crash after the parsed append but before the lineage
        overwrite (simulated by deleting lineage) must not re-append —
        file_sha stays unique in the store."""
        import shutil
        out_dir = str(tmp_path_factory.mktemp("belout_stale"))
        src = out["src"]
        half = src.filter(F.crc32(F.col("path")) % 2 == 0)
        run_pipeline(spark, half, out_dir, run_id="s1")
        shutil.rmtree(out_dir + "/lineage")   # lineage lost mid-crash
        m2 = run_pipeline(spark, src, out_dir, resume=True, run_id="s2")
        parsed = spark.read.parquet(out_dir + "/parsed")
        assert parsed.count() == 20
        assert parsed.select("file_sha").distinct().count() == 20
        assert m2["n_triples"] == out["metrics"]["n_triples"]

    def test_fresh_run_into_existing_store_refuses(self, spark, out):
        with pytest.raises(ValueError, match="resume"):
            run_pipeline(spark, out["src"], out["dir"], run_id="t3")

    def test_node_ids_consistent_between_tables(self, spark, out):
        nodes = spark.read.parquet(out["dir"] + "/nodes")
        edges = spark.read.parquet(out["dir"] + "/edges")
        ids = nodes.select("node_id")
        dangling = (
            edges.select(F.col("subject_id").alias("node_id"))
            .union(edges.select(F.col("object_id").alias("node_id")))
            .distinct()
            .join(ids, "node_id", "left_anti")
            .count()
        )
        assert dangling == 0

    def test_path_filter_excludes_non_bel(self, spark, tmp_path):
        """Mixed-language source: %.bel + lang guard must exclude non-BEL
        rows BEFORE the parse UDF (reference validate.py:237-249)."""
        profile = CorpusProfile(n_files=6, statements_per_file=10)
        bel = corpus_spark(spark, profile, partitions=2)
        other = bel.limit(2).select(
            "repo",
            F.regexp_replace("path", r"\.bel$", ".py").alias("path"),
            "commit", F.lit("python").alias("lang"),
            F.lit("import os  # not BEL at all").alias("content"),
        )
        src = bel.unionByName(other)
        out_dir = str(tmp_path / "mixed")
        m = run_pipeline(spark, src, out_dir, run_id="mix")
        assert m["n_files"] == 6  # the 2 non-BEL rows never reached parse
        lineage = spark.read.parquet(out_dir + "/lineage")
        assert lineage.filter(~F.col("path").endswith(".bel")).count() == 0

    def test_error_report_file(self, spark, out, tmp_path):
        from ebel_spark import validate as V
        errors = spark.read.parquet(out["dir"] + "/errors")
        path = str(tmp_path / "report.csv")
        V.write_error_report(errors, path)
        import pandas as pd
        pdf = pd.read_csv(path)
        assert list(pdf.columns) == [
            "file_sha", "error_class", "url", "keyword", "entry",
            "line_number", "column", "hint"]
        assert len(pdf) == out["metrics"]["n_errors"]
        # reference also emits markdown/html reports (validate.py:252-354)
        md = V.write_error_report(errors, str(tmp_path / "report.md"))
        lines = open(md, encoding="utf-8").read().splitlines()
        assert lines[0].startswith("| file_sha | error_class |")
        assert len(lines) == len(pdf) + 2           # header + separator
        html = V.write_error_report(errors, str(tmp_path / "report.html"))
        body = open(html, encoding="utf-8").read()
        assert body.count("<tr>") >= len(pdf)
        # xlsx (the reference default) needs a writer lib this sandbox
        # lacks: the path must fail with the documented actionable error
        with pytest.raises((RuntimeError, ModuleNotFoundError)):
            V.write_error_report(errors, str(tmp_path / "report.xlsx"))

    def test_repair_flag_end_to_end(self, spark, tmp_path):
        """A corpus whose statements use snake_cased relations parses clean
        only with repair=True."""
        import hashlib
        content = (
            'SET DOCUMENT Name = "r"\n'
            'DEFINE NAMESPACE HGNC AS URL "https://example.org/ns/hgnc.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            "p(HGNC:TNF) directly_increases p(HGNC:AKT1)\n"
        )
        src = spark.createDataFrame(
            [("r", "a.bel", hashlib.sha1(b"x").hexdigest(), "bel", content)],
            "repo string, path string, commit string, lang string, content string",
        )
        out_dir = str(tmp_path / "rep")
        m = run_pipeline(spark, src, out_dir, run_id="rep", repair=True,
                         enrich=False, involved=False)
        assert m["n_valid_files"] == 1
        assert m["n_triples"] >= 1
        # involved=False drops the compiler's involved_* columns only
        cols = set(spark.read.parquet(out_dir + "/nodes").columns)
        assert "species" in cols
        assert not cols & {"involved_genes", "involved_other",
                           "inferred_species"}
        # invariant still holds on the ORIGINAL content
        assert verify_invariant(spark, src, out_dir) == 0

    def test_hot_gene_skew_present(self, spark, out):
        """The corpus must be skewed (hot HGNC keys) so the salted
        aggregation path is actually exercised."""
        nodes = spark.read.parquet(out["dir"] + "/nodes")
        top = (
            nodes.filter("node_class = 'protein'")
            .orderBy(F.desc("n_occurrences"))
            .select("n_occurrences").first()
        )
        med = nodes.filter("node_class = 'protein'").approxQuantile(
            "n_occurrences", [0.5], 0.01)[0]
        assert top.n_occurrences > 5 * med


def test_cli_flags_map_onto_run_pipeline(monkeypatch):
    """Each `main()` flag, set alone, changes exactly its own run_pipeline
    keyword; every keyword main() passes is a run_pipeline parameter, and
    the CLI defaults are the API defaults.  No Spark job runs: session,
    corpus and pipeline are fakes."""
    import inspect

    from ebel_spark import corpus as corpus_mod
    from ebel_spark import pipeline, session

    params = inspect.signature(run_pipeline).parameters
    calls = {}
    monkeypatch.setattr(session, "get_spark",
                        lambda **kw: calls.update(spark=kw) or "S")
    monkeypatch.setattr(corpus_mod, "corpus_spark",
                        lambda spark, profile: profile)
    monkeypatch.setattr(pipeline, "run_pipeline",
                        lambda *a, **kw: calls.update(run=(a, kw)) or {})

    def run(*flags):
        pipeline.main(["--out", "/o", *flags])
        return calls["run"]

    (spark, profile, out_dir), base = run()
    assert (spark, profile, out_dir) == ("S", corpus_mod.SMALL, "/o")
    assert set(base) <= set(params)
    assert base == {k: params[k].default for k in base}
    for flags, want in [
        (["--mode", "strict"], {"mode": "strict"}),
        (["--resume"], {"resume": True}),
        (["--no-enrich"], {"enrich": False}),
        (["--no-involved"], {"involved": False}),
        (["--no-hints"], {"with_hints": False}),
        (["--parse-partitions", "7"], {"parse_partitions": 7}),
        (["--repair"], {"repair": True}),
        (["--error-report", "r.csv"], {"error_report": "r.csv"}),
        (["--format", "iceberg"], {"output_format": "iceberg"}),
        (["--catalog", "cat"], {"catalog": "cat"}),
    ]:
        assert run(*flags)[1] == {**base, **want}, flags

    (_, profile, _), kw = run("--source", "synthetic:3,4", "--cores", "2")
    assert (profile.n_files, profile.statements_per_file) == (3, 4)
    assert calls["spark"] == {"cores": 2, "app_name": "ebel-spark-pipeline"}
    assert kw == base
