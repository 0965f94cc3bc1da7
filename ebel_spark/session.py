"""SparkSession factory with configs tuned for this pipeline.

Design notes for scale (100 TB / 1000 executors):
- AQE on: runtime coalescing + skew-join splitting handle the hot-key
  distributions (HGNC-heavy namespaces) without manual tuning.
- Arrow on: the one Python surface (the parse UDF) moves batches, not rows.
- shuffle partitions sized for local testing; on a real cluster rely on AQE
  (`spark.sql.adaptive.coalescePartitions.enabled`) to right-size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_kb() -> int | None:
    """Physical memory (`MemTotal` of /proc/meminfo) in KiB, or None where
    it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory_conf(cores: int, mem_kb: int | None = None) -> dict:
    """`spark.driver.memory` and the -Xms that pins it, for `cores` task
    slots on a host with `mem_kb` KiB of physical memory (default: this
    host's `MemTotal`).  `SPARK_DRIVER_MEM`, where set, wins.

    local mode runs driver + all task threads in ONE JVM, so the heap
    scales with the task-slot count at 1.5 GB per slot, or concurrent
    tasks thrash GC (a 4N-executor cluster has 4x the memory of an
    N-executor one, so the local proxy must too).  -Xms is pinned to
    -Xmx: G1's dynamic commit/uncommit of a growing heap showed up as
    60-98% *system* CPU (kernel page zeroing) in vmstat, randomly
    multiplying stage times 3-20x.  Under load G1 touches all of a
    pinned heap, so it is capped at 75% of physical memory --
    Spark's hardware-provisioning guide: "at most 75% of the memory for
    Spark" -- leaving the rest to the OS, the Python workers and any
    sibling JVM (a local-cluster run or a spark-submit child beside this
    session).  Uncapped, 32 slots on a 16 GB host ask for a pinned 48 GB
    heap the JVM cannot commit.  Where `MemTotal` cannot be read, the
    slot rule alone applies."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        heap_gb = int(cores * 1.5)
        mem_kb = _mem_total_kb() if mem_kb is None else mem_kb
        if mem_kb is not None:
            heap_gb = min(heap_gb, max(1, int(mem_kb * 0.75) >> 20))
        mem = f"{heap_gb}g"
    return {"spark.driver.memory": mem,
            "spark.driver.extraJavaOptions": f"-Dlog4j2.level=error -Xms{mem}"}


def _export_package_root() -> None:
    """Put the directory that holds the ebel_spark package on PYTHONPATH.
    Python workers are started by the JVM with the environment it
    inherited at launch, not with this process's sys.path, so a driver
    that found the package only through sys.path (a script run from
    another directory) would hand every worker UDFs that fail with
    ModuleNotFoundError.  Must run before the JVM starts."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


def get_spark(
    cores: int | None = None,
    app_name: str = "ebel-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """`master` overrides the local[cores] default — e.g.
    `local-cluster[4,2,4096]` to run 4 REAL executor JVMs with 2 cores /
    4 GiB each (true serialization/broadcast/shuffle-fetch boundaries,
    the faithful in-sandbox stand-in for a multi-executor cluster);
    `cores` then means cores-per-executor x executors for sizing
    shuffle partitions."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 16)
    b = SparkSession.builder
    # under spark-submit the master comes from the launch command
    # (--master yarn / spark://...) and must not be overridden.  SparkConf()
    # is empty before the JVM gateway starts, so it can't be probed here;
    # PythonRunner exports PYSPARK_GATEWAY_PORT when (and only when) the
    # script was launched by spark-submit, so that is the reliable signal.
    launched_by_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is not None:
        b = b.master(master)
    elif not launched_by_spark_submit:
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle parallelism meaningful at bench scale: the 64 MB
        # default advisory size would coalesce our ~10 MB shuffles onto 1-2
        # cores (on a real cluster with TB shuffles, raise this back up)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffle/broadcast/spill codec: zstd trades CPU (which scales with
        # cores) for bytes moved (DRAM bandwidth here, network/disk on a
        # real cluster — the resources that DON'T scale per-core).  Measured
        # on the full pipeline at 10k files: local[32] 55.2 -> 45.6 s wall
        # (+21% throughput; edge-dedup shuffle 13.8 -> 9.7 s, rollup
        # 7.8 -> 5.2 s) vs a ~6% regression at local[8] where bandwidth
        # isn't saturated.  The shuffle-heavy stages are exactly where the
        # 8->32 DRAM wall bites, so this lifts the high-parallelism end.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # dimension tables here are all << 16 MB; a bigger threshold tempts
        # AQE into broadcasting million-row fact-side aggregates (driver
        # hash-table build + per-core copies — measured 5x slowdown on the
        # edge-dedup join).  Explicit F.broadcast() still overrides for
        # any genuinely big dimension.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the parsed table's rows are ~25 KB of nested structs: the default
        # 4096-row reader batch needs ~100 MB of contiguous column vectors
        # PER TASK (OOM at 8 cores, GC churn everywhere else)
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # InferFiltersFromGenerate turns explode(expr) into a pushed-down
        # Filter(size(expr) > 0) with the WHOLE generator expression
        # re-inlined — for computed arrays that undoes alias binding (the
        # HOF-rebinding lesson: the winnow fingerprint expression is
        # quadratic when unbound) and the pushed filter lands BELOW any
        # repartition, re-running the array build single-task.  The rule
        # only ever saves shuffling empty-array rows, which our explodes
        # pre-filter anyway.  (Queries also use explode_outer defensively
        # so they stay fast under sessions we don't configure.)
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # a many-query session (93-query gate, 22-query bench) holds far
        # more generated-code classes than the 100-entry default cache;
        # eviction forces multi-second Janino+C2 recompiles of the big
        # unrolled-expression units on every revisit (measured 18 s ->
        # 2.5 s on multimodal_features' second run)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # with a reliable spark.checkpoint.dir set, every cut_lineage()
        # in the iterative graph ops writes a full dataset copy; without
        # this flag Spark NEVER deletes those files (the default leaves
        # them past application exit), so a long session's checkpoint
        # store grows without bound.  With it, the ContextCleaner removes
        # a checkpoint's files once its RDD is unreferenced — i.e. one to
        # two iterations later, exactly the localCheckpoint lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in driver_memory_conf(cores).items():
        b = b.config(k, v)
    # ad-hoc conf overrides for experiments without touching callers:
    # SPARK_GRAFT_CONF="k1=v1;k2=v2" (applied before `extra`, which wins)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_CONF segment {kv!r} is not of the form key=value")
        b = b.config(k.strip(), v.strip())
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    _export_package_root()
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
