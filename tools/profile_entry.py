#!/usr/bin/env python
"""Per-entry profiler for the optimization rounds (guide §1): time a
catalog entry end-to-end with the noop sink (same methodology as
bench.py), optionally repeat N times, print per-rep seconds, and dump
``.explain("formatted")`` of the returned DataFrame.

Usage:
  python tools/profile_entry.py [--sf DIR] [--reps N] [--explain FILE] entry [entry ...]

With --jobs, also prints the Spark job timeline of the LAST rep (job
description, duration) pulled from the status tracker's listener data,
so multi-action entries (index builds, streamed ingests) show where the
seconds go between actions.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None, help="write explain('formatted') here")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()

    from warp_spark import get_spark
    from warp_spark.catalog import QUERIES

    spark = get_spark("profile-entry")
    # warm codegen/classloading once at the smallest SF, like bench.py
    for name in args.entries:
        try:
            QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            print(f"# warmup {name}: {type(e).__name__}: {e}", file=sys.stderr)

    def n_jobs() -> int:
        ids = spark.sparkContext.statusTracker()._jtracker.getJobIdsForGroup(None)
        return max(list(ids) or [-1])

    for name in args.entries:
        times = []
        jobs = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}:rep{r}")
            j0 = n_jobs()
            t0 = time.time()
            df = QUERIES[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
            jobs.append(n_jobs() - j0)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: best={min(times):.3f}s reps={[round(t, 3) for t in times]} "
            f"spark_jobs={jobs[-1]}"
        )
        if args.explain:
            df = QUERIES[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = args.explain.replace("{}", name)
            with open(path, "w") as f:
                f.write(plan)
            print(f"# explain -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
