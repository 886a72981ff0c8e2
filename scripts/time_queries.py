"""Time selected registry queries with the noop sink (guide §1.4).

Usage: PYTHONPATH=<repo> python scripts/time_queries.py [--sf DIR] [--reps N] name...
First builds every kind of trained state for --sf (queries.prepare) and
prints one PREPARE line per kind with its build seconds, so no timed rep
includes a build. Then prints one line per query: name, per-rep seconds,
and the Spark jobs and stages each rep ran, read from the status
tracker's job infos. Neither count is a fixed property of a plan: AQE
submits each query stage as its own job, so one plan runs as 6 or 7 jobs
from rep to rep. The stages that ran (skipped ones excluded) move less,
and a change in either still shows structure changing on a noisy host.
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

    # retain every job and stage in the status store, so a rep's job
    # group still lists all of its jobs
    spark = get_spark(
        "time_queries",
        extra_conf={
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_and_stages(group: str) -> tuple[int, int]:
        """Jobs in `group`, and the stages of those jobs that ran tasks."""
        jids = tracker.getJobIdsForGroup(group)
        sids = {s for j in jids for s in tracker.getJobInfo(j).stageIds}
        infos = [tracker.getStageInfo(s) for s in sids]
        ran = sum(1 for i in infos if i is not None and i.numCompletedTasks)
        return len(jids), ran

    for kind, sec in prepare(spark, args.sf).items():
        print(f"PREPARE {kind}: {sec:.2f}s", flush=True)
    for name in args.names:
        fn = SPARK_QUERIES[name]
        # warmup at the smallest SF: codegen/JIT hot, same plan shapes
        fn(spark, args.warm_sf).write.format("noop").mode("overwrite").save()
        runs, jobs, stages = [], [], []
        for rep in range(args.reps):
            group = f"time:{name}:{rep}"
            sc.setJobGroup(group, f"time:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            n_jobs, n_stages = jobs_and_stages(group)
            jobs.append(n_jobs)
            stages.append(n_stages)
        sc.setLocalProperty("spark.jobGroup.id", None)
        print(
            f"RESULT {name}: reps={[round(r, 2) for r in runs]} "
            f"jobs/rep={jobs} stages/rep={stages}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
