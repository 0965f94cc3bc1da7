"""Measurement helpers for the benchmark.

Everything here observes the program from outside: spans are recorded
around the benchmark's own calls into each layer, CPU and resident memory
come from /proc, JVM garbage-collection time from the GarbageCollector
MXBeans over py4j, and Spark task metrics from the traced session's event
log, attributed to spans by time window.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields from the state field on) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    close = raw.rindex(")")
    return raw[raw.index("(") + 1:close], raw[close + 2:].split()


def _scan() -> tuple[dict, dict]:
    """stat fields of every process, and each process's children."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        kids.setdefault(int(st[1][1]), []).append(int(name))
    return stats, kids


def process_tree(root: int, scan: tuple | None = None
                 ) -> list[tuple[int, str, list[str]]]:
    """`root` and all its live descendants as (pid, comm, stat fields)."""
    stats, kids = scan or _scan()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, *stats[pid]))
            todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(fields: list[str], with_children: bool) -> float:
    # utime, stime, cutime, cstime are stat fields 14-17
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK


def cpu_counters(root: int) -> dict[str, float]:
    """CPU seconds so far of the JVM and of the Spark Python workers under
    it (reaped workers count through their parent's cumulative times)."""
    scan = _scan()
    jvms = [pid for pid, comm, _ in process_tree(root, scan)
            if comm == "java"]
    jvm_cpu = worker_cpu = 0.0
    for jvm in jvms:
        for pid, comm, fields in process_tree(jvm, scan):
            if pid == jvm:
                jvm_cpu += _cpu_s(fields, with_children=False)
            elif comm.startswith("python"):
                worker_cpu += _cpu_s(fields, with_children=True)
    return {"jvm.cpu_s": jvm_cpu, "pyworker.cpu_s": worker_cpu}


def gc_seconds(spark) -> float:
    """Total collection time of the session JVM's garbage collectors."""
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the Python process, the JVM and the Python workers) on a background thread
    and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> float:
        pages = sum(int(f[21]) for _, _, f in process_tree(os.getpid()))
        mb = pages * _PAGE / 2**20
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


class Tracer:
    """In-memory spans with per-span counter deltas.  Disabled, `span` only
    yields; enabled, each span records wall-clock start/end (epoch seconds,
    for event-log attribution), its parent, the change in JVM GC time and
    JVM/worker CPU time over the span, and the time its own two counter
    snapshots took (`snapshot_s`, the tracer's overhead)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _counters(self, rec: dict) -> dict[str, float]:
        t = time.perf_counter()
        c = cpu_counters(os.getpid())
        c["jvm.gc_s"] = gc_seconds(self.spark)
        rec["snapshot_s"] = rec.get("snapshot_s", 0.0) + (
            time.perf_counter() - t)
        return c

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self._counters(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            after = self._counters(rec)
            rec["counters"] = {k: after[k] - before[k] for k in after}
            self._stack.pop()

    def write(self, path: str, extra: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def read_task_ends(event_dir: str) -> list[dict]:
    """(stage, launch/finish epoch s, run time s, shuffle write / spill
    bytes) of every finished task in the event logs under `event_dir`."""
    tasks = []
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write": m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return tasks


def task_metrics(tasks: list[dict], start: float, end: float) -> dict:
    """Shuffle write and spill of the tasks that finished inside the
    window, and the skew (slowest over median task) of its heaviest
    stage."""
    mine = [t for t in tasks if start <= t["finish"] <= end]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(), key=sum)
        skew = max(heaviest) / max(statistics.median(heaviest), 0.001)
    return {
        "spark.shuffle_write_mb":
            sum(t["shuffle_write"] for t in mine) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in mine) / 2**20,
        "spark.task_max_over_p50": skew,
    }
