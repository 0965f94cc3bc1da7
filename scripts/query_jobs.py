"""Spark jobs per warm call of registered queries, counted from a job group.

Usage: python scripts/query_jobs.py [--calls N] query ...

Each query is collected once to warm the session's shared frames, then N
more times (default 3), each call inside its own job group.  Prints one
line per query with the job count of every warm call.  Jobs are the cost
unit of the iterative graph operators: each is one round trip through the
driver's scheduler, whatever its task work.
"""
import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jobs_per_call(spark, fn, sf_dir, calls):
    sc = spark.sparkContext
    fn(spark, sf_dir).collect()
    out = []
    for i in range(calls):
        group = f"query-jobs-{id(fn)}-{i}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, sf_dir).collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        time.sleep(0.5)  # the status store is fed by an async listener
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--calls", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from ebel_spark.queries import QUERIES
    from ebel_spark.session import get_spark

    # the bel_* queries read the session's oracle KG, not the sf dir
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    spark = get_spark(cores=4, app_name="query-jobs")
    for name in args.queries:
        jobs = jobs_per_call(spark, QUERIES[name][0], sf_dir, args.calls)
        print(f"{name}\t{' '.join(map(str, jobs))}", flush=True)


if __name__ == "__main__":
    main()
