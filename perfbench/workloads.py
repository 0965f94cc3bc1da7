"""The benchmark's workloads.  Each drives the program only through its
public functions, checks every operation's output outside the timed
region, and returns what the traced run reports per layer.

- `build`: one full `run_pipeline` into a fresh output directory over a
  seeded synthetic corpus.
- `query`: one pass over a fixed mix of registered BEL queries in seeded
  order.  The registry fixes the queried corpus (the oracle corpus), so
  the seed only changes the order.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from ebel_spark import corpus as C
from ebel_spark import parse as P
from ebel_spark import pipeline as PL
from ebel_spark.belc.parse import parse_script
from ebel_spark.belc.scriptproc import process_file
from ebel_spark.namespaces import build_dimensions

STAGES = ["parse", "lineage", "validate", "materialize.nodes0",
          "materialize.edges_stmt", "materialize.struct_edges",
          "materialize.p2g", "rollup", "link", "write"]
COUNTS = ["n_statements", "n_triples", "n_edges", "n_nodes"]
QUERY_MIX = ["bel_kcore", "bel_communities_lpa", "bel_triples",
             "bel_edge_dedup_counts"]
BELC_SAMPLE_FILES = 40

# name -> unit of every metric a traced run prints
PER_LAYER = {
    **{f"pipeline.stage.{s}_s": "s" for s in STAGES},
    "belc.us_per_stmt": "us", "belc.parse_script_us_per_stmt": "us",
    "belc.canon_us_per_stmt": "us", "belc.stmts": "count",
    "parse.udf_s": "s", "parse.stmts_per_core_s": "1/s",
    "parse.ok_frac": "ratio",
    "graph.edge_dedup_ratio": "ratio", "link.hit_frac": "ratio",
    "sinks.bytes_per_input_byte": "ratio",
    **{f"queries.{q}_s": "s" for q in QUERY_MIX},
    "queries.oracle_parse_s": "s", "session.get_spark_s": "s",
    "jvm.gc_s": "s", "jvm.cpu_s": "s", "pyworker.cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_max_over_p50": "ratio", "trace.overhead_s": "s",
    "trace.wall_s": "s", "mem.peak_rss_mb": "MB",
}

# (files, statements per file) for build; the query names for query
SIZES = {
    "full": {"build": (200, 50), "query": QUERY_MIX},
    "tiny": {"build": (8, 10), "query": ["bel_triples",
                                         "bel_edge_dedup_counts"]},
}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def belc_metrics(contents: list[str]) -> dict:
    """Single-process compiler cost on a sample of source files: the whole
    `process_file`, its `parse_script` part, and the rest (canon/extract)."""
    n_stmts = sum(len(process_file(c)["statements"]) for c in contents)
    per_pass = {"process": [], "parse": []}
    for _ in range(3):
        t = time.perf_counter()
        for c in contents:
            process_file(c)
        per_pass["process"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for c in contents:
            parse_script(c)
        per_pass["parse"].append(time.perf_counter() - t)
    us = {k: statistics.median(v) * 1e6 / max(n_stmts, 1)
          for k, v in per_pass.items()}
    return {
        "belc.us_per_stmt": us["process"],
        "belc.parse_script_us_per_stmt": us["parse"],
        "belc.canon_us_per_stmt": us["process"] - us["parse"],
        "belc.stmts": n_stmts,
    }


def parse_udf_metrics(spark, src, cores: int) -> dict:
    """The Spark parse stage alone, forced with a noop write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation("parse")
    parsed = P.parse_sources(src).observe(
        obs, F.count(F.lit(1)).alias("files"),
        F.sum(F.col("ok").cast("long")).alias("ok"),
        F.sum("n_statements").alias("stmts"))
    t = time.perf_counter()
    parsed.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t
    got = obs.get
    return {
        "parse.udf_s": dt,
        "parse.stmts_per_core_s": (got["stmts"] or 0) / (dt * cores),
        "parse.ok_frac": (got["ok"] or 0) / max(got["files"], 1),
    }


class Build:
    """Full rebuild of the knowledge graph from source files.  A rebuild is
    a batch job in a fresh session, so the first run after set-up is the
    one measured: no warm-up."""

    warmup_ops = 0

    def __init__(self, spark, seed: int, tmp: str, size: str, tracer):
        self.spark, self.seed, self.tmp, self.tracer = spark, seed, tmp, tracer
        self.n_files, self.n_stmts = SIZES[size]["build"]
        self.n_ops = 0
        self.layer: dict[str, list[float]] = {}

    def setup(self):
        # one seeded Dimensions for both the corpus and the pipeline, so
        # validation and linking see the dictionaries the corpus drew from
        self.dims = build_dimensions(seed=self.seed)
        profile = C.CorpusProfile(n_files=self.n_files,
                                  statements_per_file=self.n_stmts,
                                  error_rate=0.005, seed=self.seed)
        path = os.path.join(self.tmp, "source")
        C.corpus_spark(self.spark, profile, dims=self.dims) \
            .write.parquet(path)
        self.src = self.spark.read.parquet(path)

    def prepare_checks(self):
        """Statement count of the corpus by the pure-Python compiler, the
        reference for the pipeline's count."""
        self.contents = sorted(
            {r.content for r in self.src.select("content").collect()})
        self.src_bytes = sum(len(c.encode()) for c in self.contents)
        self.expected_stmts = sum(len(process_file(c)["statements"])
                                  for c in self.contents)

    def op(self) -> tuple[dict, bool, int]:
        """-> ({"run_pipeline": seconds}, output correct, n_triples)"""
        out = os.path.join(self.tmp, f"out{self.n_ops}")
        self.n_ops += 1
        t = time.perf_counter()
        m = PL.run_pipeline(self.spark, self.src, out, dims=self.dims)
        dt = time.perf_counter() - t
        try:
            ok = (PL.verify_invariant(self.spark, self.src, out) == 0
                  and m["n_statements"] == self.expected_stmts
                  and all(m[k] > 0 for k in COUNTS)
                  and m["n_triples"] <= m["n_edges"])
            if self.tracer.enabled:
                self._record(m, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {"run_pipeline": dt}, ok, m["n_triples"]

    def _record(self, m: dict, out: str):
        from pyspark.sql import functions as F
        rec = {f"pipeline.stage.{s}_s": m["stages"].get(s, 0.0)
               for s in STAGES}
        # statement edges over the statements merged into them
        edges = self.spark.read.parquet(os.path.join(out, "edges")) \
            .filter(F.col("n_statements") > 0)
        row = edges.agg(F.count(F.lit(1)).alias("n"),
                        F.sum("n_statements").alias("stmts")).first()
        rec["graph.edge_dedup_ratio"] = row["n"] / row["stmts"]
        nodes = self.spark.read.parquet(os.path.join(out, "nodes"))
        cand = nodes.filter(F.col("namespace").isin("HGNC", "CHEBI"))
        hit = (((F.col("namespace") == "HGNC") & F.col("hgnc_symbol")
                .isNotNull())
               | ((F.col("namespace") == "CHEBI") & F.col("chebi")
                  .isNotNull()))
        row = cand.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(hit.cast("long")).alias("hit")).first()
        rec["link.hit_frac"] = (row["hit"] or 0) / max(row["n"], 1)
        rec["sinks.bytes_per_input_byte"] = _dir_bytes(out) / self.src_bytes
        for k, v in rec.items():
            self.layer.setdefault(k, []).append(v)

    def sample_contents(self, rng: random.Random) -> list[str]:
        return rng.sample(self.contents,
                          min(BELC_SAMPLE_FILES, len(self.contents)))

    def source(self):
        return self.src

    def layer_metrics(self) -> dict:
        return {k: statistics.median(v) for k, v in self.layer.items()}


class Query:
    """Analysts querying the finished graph: a closed loop of passes over a
    fixed query mix, each query checked against its DuckDB twin.  Analysts
    work in a long-lived session, so unrecorded passes warm it up first
    (see JAVA_OPTIONS in run.py)."""

    warmup_ops = 4

    def __init__(self, spark, seed: int, tmp: str, size: str, tracer):
        self.spark, self.seed, self.tmp, self.tracer = spark, seed, tmp, tracer
        self.mix = SIZES[size]["query"]
        self.rng = random.Random(seed)
        self.layer: dict[str, list[float]] = {}
        self.oracle_parse_s = 0.0

    def setup(self):
        from ebel_spark import queries as Q
        from ebel_spark.oracle_data import ensure_link_tables
        from scripts import check_contract as CC
        self.Q, self.CC = Q, CC
        ensure_link_tables()
        t = time.perf_counter()
        Q._bel_oracle_parsed(self.spark).count()
        self.oracle_parse_s = time.perf_counter() - t

    def prepare_checks(self):
        """Every query's rows from its DuckDB twin."""
        import duckdb

        Q = self.Q
        con = duckdb.connect()
        self.expected = {}
        for name in set(self.mix) | {"bel_triples", "bel_edge_dedup_counts"}:
            res = con.sql(Q.QUERIES[name][1])
            self.expected[name] = (list(res.columns),
                                   [str(t) for t in res.types],
                                   res.fetchall())
        con.close()
        # size of the queried graph: its distinct triples
        self.n_triples = len(self.expected["bel_triples"][2])
        dedup = self.expected["bel_edge_dedup_counts"]
        cols = dedup[0]
        self.edge_dedup_ratio = (
            sum(r[cols.index("n_edges")] for r in dedup[2])
            / sum(r[cols.index("n_statements")] for r in dedup[2]))

    def _check(self, name: str, sdf, rows) -> bool:
        CC = self.CC
        ocols, otypes, orows = self.expected[name]
        scols = sdf.columns
        return (sorted(c.lower() for c in scols)
                == sorted(c.lower() for c in ocols)
                and not CC.dtype_mismatches(
                    scols, [t for _, t in sdf.dtypes], ocols, otypes)
                and len(rows) == len(orows)
                and CC.norm_rows(scols, [tuple(r) for r in rows])
                == CC.norm_rows(ocols, orows))

    def op(self) -> tuple[dict, bool, int]:
        """-> (seconds of each query of one pass, all outputs correct,
        distinct triples of the queried graph)"""
        from ebel_spark.ops.dedup import release_pins
        order = self.rng.sample(self.mix, len(self.mix))
        times, ok = {}, True
        for name in order:
            fn = self.Q.QUERIES[name][0]
            with self.tracer.span(f"queries.{name}"):
                t = time.perf_counter()
                sdf = fn(self.spark, self.tmp)
                rows = sdf.collect()
                dt = time.perf_counter() - t
            times[name] = dt
            ok = self._check(name, sdf, rows) and ok
            release_pins()
            if self.tracer.enabled:
                self.layer.setdefault(f"queries.{name}_s", []).append(dt)
        return times, ok, self.n_triples

    def sample_contents(self, rng: random.Random) -> list[str]:
        contents = C.corpus_pandas(self._profile()).content.tolist()
        return rng.sample(contents, min(BELC_SAMPLE_FILES, len(contents)))

    def _profile(self):
        from ebel_spark.oracle_data import ORACLE_FILES, ORACLE_STMTS
        return C.CorpusProfile(n_files=ORACLE_FILES,
                               statements_per_file=ORACLE_STMTS)

    def source(self):
        path = os.path.join(self.tmp, "oracle_source")
        C.corpus_spark(self.spark, self._profile(), partitions=8) \
            .write.parquet(path)
        return self.spark.read.parquet(path)

    def layer_metrics(self) -> dict:
        rec = {k: statistics.median(v) for k, v in self.layer.items()}
        rec["queries.oracle_parse_s"] = self.oracle_parse_s
        rec["graph.edge_dedup_ratio"] = self.edge_dedup_ratio
        return rec


WORKLOADS = {"build": Build, "query": Query}
