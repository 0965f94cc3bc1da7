"""The local gate replica (scripts/check_contract.py) must be at least as
strict as the driver's hash comparison: DuckDB HUGEINT / DECIMAL results
at equal VALUES still hash differently from Spark long/double (the r2
doc_budget_slice red row), so the replica flags dtype-family mismatches
instead of string-normalizing them away."""

import importlib.util
import os
import time

import pytest

_spec = importlib.util.spec_from_file_location(
    "check_contract",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "check_contract.py"))
cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cc)


class TestDtypeCanary:
    def test_uncast_hugeint_window_sum_is_flagged(self):
        # the exact r2 failure shape: DuckDB sum(BIGINT) OVER (...) ->
        # HUGEINT against Spark's bigint
        mism = cc.dtype_mismatches(
            ["doc_id", "cum_cost"], ["bigint", "bigint"],
            ["doc_id", "cum_cost"], ["BIGINT", "HUGEINT"])
        assert mism == [("cum_cost", "int", "hugeint")]

    def test_uncast_decimal_sum_is_flagged(self):
        mism = cc.dtype_mismatches(
            ["k", "total"], ["string", "double"],
            ["k", "total"], ["VARCHAR", "DECIMAL(38,2)"])
        assert mism == [("total", "float", "decimal")]

    def test_matching_families_pass(self):
        assert cc.dtype_mismatches(
            ["a", "b", "c", "d"],
            ["bigint", "double", "string", "array<string>"],
            ["a", "b", "c", "d"],
            ["INTEGER", "DOUBLE", "VARCHAR", "VARCHAR[]"]) == []


class TestScaleReplicaGenerator:
    def test_replica_tags_survive_tokenizer_and_stay_disjoint(self, spark):
        # the r5 rehearsal lesson, pinned: replica tags must ride INSIDE
        # the [a-z0-9]+ token (a separator tag becomes its own
        # interleaved token, degrades n-gram shingles and manufactures
        # quadratic near-dup candidates).  Two builds must also be
        # byte-deterministic.
        import importlib.util as _ilu
        import os as _os
        spec = _ilu.spec_from_file_location(
            "scale_queries",
            _os.path.join(_os.path.dirname(_os.path.dirname(
                _os.path.abspath(__file__))), "scripts",
                "scale_queries.py"))
        sq = _ilu.module_from_spec(spec)
        spec.loader.exec_module(sq)

        from ebel_spark.ops.text import tokens
        from pyspark.sql import functions as F

        import tempfile
        import shutil
        d1 = tempfile.mkdtemp(prefix="sqrep1_")
        try:
            sq.build_scaled_dir(spark, "/root/testdata/sf0.001", d1, 3)
            docs = spark.read.parquet(f"{d1}/documents.parquet")
            assert docs.count() % 3 == 0
            # replica-1 tokens all end with the tag and are DISJOINT
            # from replica-0's token vocabulary
            n_docs = docs.count() // 3
            t0 = (docs.filter(F.col("doc_id") < n_docs)
                  .select(F.explode(tokens(F.col("text"))).alias("t")))
            t1 = (docs.filter((F.col("doc_id") >= n_docs)
                              & (F.col("doc_id") < 2 * n_docs))
                  .select(F.explode(tokens(F.col("text"))).alias("t")))
            assert t1.filter(~F.col("t").endswith("xr1")).count() == 0
            assert t0.join(t1, "t", "left_semi").count() == 0
        finally:
            shutil.rmtree(d1, ignore_errors=True)


class TestBelQueryTwins:
    """One bel_* query per shared oracle-KG derivation in
    ebel_spark/queries.py (statements, edge statements, (u, v) edges,
    materialized edges, nodes, linked nodes) against its DuckDB twin,
    compared the way scripts/check_contract.py compares them."""

    @pytest.mark.parametrize("name", [
        "bel_triples", "bel_pair_pmi", "bel_kcore", "bel_edge_dedup_counts",
        "bel_nodes", "bel_reactome_pathways", "bel_communities_lpa"])
    def test_query_matches_duckdb_twin(self, spark, name):
        _assert_matches_twin(spark, name)

    def test_repeat_calls_read_the_shared_edge_list(self, spark):
        """The second call of each query reads the (u, v) edge list or
        the edge table persisted by the first, and release_pins() between
        queries leaves them persisted: a stale or wrongly shared cache
        shows as a twin mismatch on the second round."""
        from ebel_spark import queries as Q
        from ebel_spark.ops.dedup import release_pins

        uv, edges = Q._kg_uv_edges(spark), Q._kg_edges(spark)
        for name in ["bel_kcore", "bel_communities_lpa",
                     "bel_edge_dedup_counts"] * 2:
            _assert_matches_twin(spark, name)
            release_pins()
            assert Q._kg_uv_edges(spark) is uv and uv.is_cached
            assert Q._kg_edges(spark) is edges and edges.is_cached
        assert Q._kg_statements(spark).is_cached

    @pytest.mark.parametrize("name", [
        "bel_kcore", "bel_communities_lpa", "bel_edge_dedup_counts"])
    def test_warm_call_runs_few_jobs(self, spark, name):
        """On the oracle KG both iterative queries run in one task over
        the persisted (u, v) list, and the edge dedup counts read the
        persisted edge table: one warm call is at most 3 Spark jobs (19
        and 23 as per-round Spark loops), 2 for the dedup counts,
        counted from a job group around the call."""
        from ebel_spark.queries import QUERIES

        most = {"bel_edge_dedup_counts": 2}.get(name, 3)
        fn = QUERIES[name][0]
        fn(spark, None).collect()  # warm: the shared frames are filled
        sc = spark.sparkContext
        group = f"warm-{name}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, None).collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        time.sleep(0.5)  # the status store is fed by an async listener
        assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= most


def _assert_matches_twin(spark, name):
    """One bel_* query against its DuckDB twin, compared the way
    scripts/check_contract.py compares them."""
    import duckdb

    from ebel_spark.ops.dedup import release_pins
    from ebel_spark.queries import QUERIES

    fn, sql = QUERIES[name]
    release_pins()
    # the bel_* queries read the oracle corpus, not the sf tables
    sdf = fn(spark, None)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    res = con.sql(sql)
    ocols, otypes = res.columns, [str(t) for t in res.types]
    orows = res.fetchall()
    assert sorted(c.lower() for c in sdf.columns) == \
        sorted(c.lower() for c in ocols)
    assert cc.dtype_mismatches(sdf.columns, [t for _, t in sdf.dtypes],
                               ocols, otypes) == []
    assert srows
    assert cc.norm_rows(sdf.columns, srows) == cc.norm_rows(ocols, orows)


class TestLinkedAccTwin:
    def test_uniprot_passthrough_matches_any_accession(self, spark, tmp_path):
        """The enrichment twins' `acc` CTE must resolve a UNIPROT-namespace
        node against EVERY accession of the dim, as link.link_uniprot does
        — not only the min accession per (taxid, symbol)."""
        import duckdb
        import pandas as pd

        from ebel_spark import link as L
        from ebel_spark import queries as Q
        from ebel_spark.oracle_data import uniprot_link_tables

        uniprot = pd.DataFrame([
            ("P11111", "Akt kinase", 9606, "AKT1"),
            ("Q99999", "Akt kinase isoform", 9606, "AKT1"),
        ], columns=["accession", "recommended_name", "taxid", "gene_symbol"])
        nodes = pd.DataFrame([
            ("protein", 'p(UNIPROT:"Q99999")', "UNIPROT", "Q99999"),
            ("protein", 'p(UNIPROT:"P11111")', "UNIPROT", "P11111"),
            ("protein", 'p(HGNC:"AKT1")', "HGNC", "AKT1"),
        ], columns=["node_class", "bel", "namespace", "name"])
        tables = {
            "nodes_raw": nodes,
            "hgnc_sym": pd.DataFrame({"symbol": ["AKT1"]}),
            "hgnc_prev": pd.DataFrame({"prev": ["AKT0"], "symbol": ["AKT9"]}),
            **uniprot_link_tables(uniprot),
        }
        for name, pdf in tables.items():
            (tmp_path / name).mkdir()
            pdf.to_parquet(tmp_path / name / "part-0.parquet", index=False)
        sql = (Q._LINKED_ACC_SQL.replace(Q._OB, str(tmp_path))
               + "SELECT bel, uniprot FROM acc")
        twin = dict(duckdb.sql(sql).fetchall())

        linked = L.link_uniprot(spark.createDataFrame(nodes),
                                spark.createDataFrame(uniprot))
        got = {r.bel: r.uniprot
               for r in linked.select("bel", "uniprot").collect()}
        assert got == {
            'p(UNIPROT:"Q99999")': "Q99999",
            'p(UNIPROT:"P11111")': "P11111",
            'p(HGNC:"AKT1")': "P11111",
        }
        assert twin == got
