"""Benchmark entry point: runs one workload with a seed and prints its
metrics as the last line of standard output, one JSON object.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced run (see perfbench/README.md).  A line before the
result tags it with the host.  Exits 1 if any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "wall_s": "s", "triples_per_s": "1/s"}

# `query` measures the steady state of a warm session.  Its passes keep
# getting faster for as long as the JVM's JIT compilers have a backlog:
# about 8 passes with the 3 compiler threads HotSpot picks for 4 cores, 4
# passes with 6; the steady state is the same code.  And a pass that
# first touches heap pages pays for faulting them in, so the heap is
# pre-touched (on 2 MB pages where the kernel allows) at JVM start, inside
# set-up.  `build` measures a cold session, so it keeps the defaults.
JAVA_OPTIONS = {"query": "-XX:CICompilerCount=6 -XX:+AlwaysPreTouch "
                         "-XX:+UseTransparentHugePages"}


def prepare_env(tmp: str, java_options: str):
    """Make the program importable here and in Spark's Python workers, keep
    every scratch file of this run under `tmp`, and add the workload's
    `java_options` to every JVM started."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # SPARK_LOCAL_DIRS wins over spark.local.dir: shuffle and spill files
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {java_options}").strip()
    # the session must be get_spark's defaults, whatever the caller's shell
    for var in ("SPARK_GRAFT_CONF", "SPARK_DRIVER_MEM"):
        os.environ.pop(var, None)
    # the query registry keeps its DuckDB oracle tables under a fixed
    # directory outside the checkout; point it at this run's scratch
    # before ebel_spark.queries binds the path into its SQL
    from ebel_spark import oracle_data as OD
    OD.ORACLE_BASE = os.path.join(tmp, "oracle")
    for fn in (OD.ensure_oracle_tables, OD.ensure_walk_tables,
               OD.ensure_link_tables, OD.ensure_snp_tables,
               OD.ensure_node2vec_tables):
        fn.__defaults__ = (OD.ORACLE_BASE,)


def host_tags(spark, cores: int, memcpy_gbps: float) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {
        "nproc": cores, "mem_total_mb": mem_kb // 1024,
        "host_memcpy_gbps": memcpy_gbps,
        "spark": spark.version, "python": platform.python_version(),
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
    }


def stop_spark(spark):
    """Stop the session and the JVM, and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext

    from spans import process_tree
    tree = [pid for pid, _, _ in process_tree(os.getpid())
            if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in tree):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes did not exit")
        time.sleep(0.1)


def run_ops(wl, tracer, seconds: float) -> list:
    """Closed loop, one operation at a time, for `seconds` (at least one
    operation).  -> [(seconds per part, ok, n_triples, span)]; a raised
    exception counts as a failed operation."""
    done = []
    t_end = time.perf_counter() + seconds
    while not done or time.perf_counter() < t_end:
        with tracer.span("op") as span:
            try:
                parts, ok, n_triples = wl.op()
            except Exception:
                traceback.print_exc()
                parts, ok, n_triples = {}, False, 0
        done.append((parts, ok, n_triples, span))
    return done


def op_seconds(ops: list) -> float:
    """Median time of one operation, as the sum over its parts (the
    queries of a pass) of each part's median: a slow spell in one query of
    one pass then moves the result no more than in any other query."""
    parts: dict[str, list[float]] = {}
    for times, *_ in ops:
        for k, v in times.items():
            parts.setdefault(k, []).append(v)
    if not parts:
        return float("nan")
    return sum(statistics.median(v) for v in parts.values())


def run(workload: str, seed: int, seconds: float, trace: bool, size: str,
        tmp: str) -> dict:
    from bench import host_memcpy_gbps
    from ebel_spark.session import get_spark

    import workloads as W
    from spans import RssSampler, Tracer, read_task_ends, task_metrics

    cores = len(os.sched_getaffinity(0))
    memcpy = host_memcpy_gbps()
    extra = {"spark.ui.showConsoleProgress": "false"}
    event_dir = os.path.join(tmp, "events")
    if trace:
        os.makedirs(event_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_dir,
                      # one plain JSON-lines file
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    layer: dict[str, float] = {}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app_name=f"perfbench-{workload}",
                          extra=extra)
        layer["session.get_spark_s"] = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, enabled=False)
            wl = W.WORKLOADS[workload](spark, seed, tmp, size, tracer)
            wl.setup()
            setup_s = time.perf_counter() - t0
            wl.prepare_checks()
            warm = [run_ops(wl, tracer, 0)[0]
                    for _ in range(wl.warmup_ops)]
            tracer.enabled = trace
            ops = run_ops(wl, tracer, seconds)
            if trace:
                with tracer.span("belc"):
                    layer.update(W.belc_metrics(
                        wl.sample_contents(random.Random(seed))))
                src = wl.source()
                with tracer.span("parse"):
                    layer.update(W.parse_udf_metrics(spark, src, cores))
                layer.update(wl.layer_metrics())
            host = host_tags(spark, cores, memcpy)
        finally:
            stop_spark(spark)
    failed = sum(not o[1] for o in warm + ops)
    result = {"correct": failed == 0, "attempted": len(warm + ops),
              "failed": failed}
    wall_s = op_seconds(ops)
    if trace:
        tasks = read_task_ends(event_dir)
        per_op = [dict(task_metrics(tasks, s["start"], s["end"]),
                       **s["counters"]) for s in (o[3] for o in ops)]
        for k in per_op[0]:
            layer[k] = statistics.median(p[k] for p in per_op)
        layer["trace.wall_s"] = wall_s
        layer["mem.peak_rss_mb"] = rss.peak_mb
        # snapshots of spans nested in an operation add to its time
        layer["trace.overhead_s"] = statistics.median(
            sum((s["snapshot_s"] for s in tracer.spans
                 if s["parent"] == o[3]["id"]), 0.0) for o in ops)
        tracer.write(os.path.join(ROOT, ".perfbench_out",
                                  f"trace-{workload}-seed{seed}.json"),
                     {"host": host, "layer": layer})
        values = {k: layer.get(k, 0.0) for k in W.PER_LAYER}
        units = W.PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "triples_per_s": max(o[2] for o in ops) / wall_s,
        }
        units = END_TO_END
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in values.items()}
    print(json.dumps({"host": host}))
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: a few files and queries, for smoke tests")
    args = ap.parse_args(argv)

    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp)
    try:
        prepare_env(tmp, JAVA_OPTIONS.get(args.workload, ""))
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), args.size, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
