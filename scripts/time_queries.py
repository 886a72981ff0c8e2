"""Time selected registry queries with the noop sink (guide §1.4).

Usage: PYTHONPATH=<repo> python scripts/time_queries.py [--sf DIR] [--reps N] name...
First builds every kind of trained state for --sf (queries.prepare) and
prints one PREPARE line per kind with its build seconds, so no timed rep
includes a build. Then prints one line per query: name, per-rep seconds,
and the Spark jobs each rep consumed (jobs are the load-independent
structural signal on a noisy shared host).
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")

from rabitq_spark.queries import SPARK_QUERIES, prepare
from rabitq_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--warm-sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    # retain every job in the status store: the per-rep job count is a
    # difference of its size, which the default 1000-job cap would clip
    spark = get_spark(
        "time_queries", extra_conf={"spark.ui.retainedJobs": "1000000"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def n_jobs() -> int:
        return sc._jsc.sc().statusStore().jobsList(None).size()

    for kind, sec in prepare(spark, args.sf).items():
        print(f"PREPARE {kind}: {sec:.2f}s", flush=True)
    for name in args.names:
        fn = SPARK_QUERIES[name]
        # warmup at the smallest SF: codegen/JIT hot, same plan shapes
        fn(spark, args.warm_sf).write.format("noop").mode("overwrite").save()
        runs, jobs = [], []
        for _ in range(args.reps):
            sc.setJobDescription(f"time:{name}")
            j0 = n_jobs()
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            jobs.append(n_jobs() - j0)
        print(
            f"RESULT {name}: reps={[round(r, 2) for r in runs]} "
            f"jobs/rep={jobs}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
