"""Sink tests: bucketed co-located joins and the queryable metrics table."""

import pytest
from pyspark.sql import functions as F

from ebel_spark import sinks


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on the same key with the same bucket count
        must sort-merge join with NO shuffle exchange on either side —
        the co-located layout for the repeatedly-joined graph tables."""
        nodes = spark.range(0, 1000).select(
            F.col("id").alias("node_id"),
            (F.col("id") % 7).alias("node_class"))
        edges = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("node_id"),
            F.col("id").alias("edge_id"))
        nt = sinks.write_bucketed(spark, nodes, "t_nodes_b", "node_id",
                                  buckets=8, path=str(tmp_path / "nodes_b"))
        et = sinks.write_bucketed(spark, edges, "t_edges_b", "node_id",
                                  buckets=8, path=str(tmp_path / "edges_b"))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # forbid broadcast so the plan must pick SMJ/SHJ on the buckets
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = nt.join(et, "node_id")._jdf.queryExecution() \
                .executedPlan().toString()
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS t_nodes_b")
            spark.sql("DROP TABLE IF EXISTS t_edges_b")


class TestMetricsTable:
    def test_metrics_table_accumulates_runs(self, spark, tmp_path):
        out = str(tmp_path / "out")
        sinks.write_metrics_table(spark, {
            "run_id": "r1", "stages": {"parse": 1.5, "validate": 0.5},
            "n_triples": 10, "wall_s": 2.0}, out)
        sinks.write_metrics_table(spark, {
            "run_id": "r2", "stages": {"parse": 1.0}, "wall_s": 1.0}, out)
        rows = spark.read.parquet(f"{out}/metrics").collect()
        by_run = {}
        for r in rows:
            by_run.setdefault(r.run_id, {})[r.metric] = r.value
        assert by_run["r1"]["stage.parse"] == 1.5
        assert by_run["r1"]["n_triples"] == 10.0
        assert by_run["r2"]["wall_s"] == 1.0
        assert "stage.validate" in by_run["r1"]


class TestClusteredWrite:
    def test_files_cover_disjoint_ranges_and_prune(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        path = str(tmp_path / "clustered")
        df = spark.range(0, 100_000).select(
            (F.col("id") * 7919 % 100_000).alias("k"),
            F.col("id").alias("payload"))
        sinks.write_clustered(df, path, ["k"], partitions=8)

        files = sorted(glob.glob(path + "/part-*.parquet"))
        assert len(files) == 8
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            col_idx = [md.schema.column(i).name
                       for i in range(md.num_columns)].index("k")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        ranges.sort()
        # pairwise disjoint file ranges (boundaries may touch, not overlap)
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2
        # a point filter must read back correctly off the clustered layout
        got = spark.read.parquet(path).filter("k BETWEEN 10 AND 20") \
            .count()
        assert got == df.filter("k BETWEEN 10 AND 20").count()


class TestHasData:
    def test_missing_crashed_and_written(self, spark, tmp_path):
        assert not sinks.has_data(spark, str(tmp_path / "missing"))
        # a first append that crashed leaves only Spark's staging dir
        crashed = tmp_path / "crashed"
        (crashed / "_temporary" / "0").mkdir(parents=True)
        (crashed / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"x")
        assert not sinks.has_data(spark, str(crashed))
        written = str(tmp_path / "written")
        spark.range(3).write.parquet(written)
        assert sinks.has_data(spark, written)
        # data files below partition directories count too
        parted = str(tmp_path / "parted")
        spark.range(3).withColumn("p", F.col("id") % 2) \
            .write.partitionBy("p").parquet(parted)
        assert sinks.has_data(spark, parted)
