"""Profile one or more registered queries: total wall time via the noop
sink plus a per-job breakdown parsed from the Spark event log, so the
optimization work targets measured cost, not guesses (guide §1).

Usage: PYTHONPATH=/root/repo python scripts/profile_query.py name [name ...]
       [--sf /root/testdata/sf0.1] [--repeat 2] [--no-warmup]

Builds every kind of trained state for --sf first (queries.prepare) and
prints each build wall on its own line, so the timed reps hold no build.
Writes nothing to the repo; prints a per-job table (job id, duration,
n tasks, description/callsite) for the LAST run of each query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    os.makedirs(EVDIR, exist_ok=True)
    from rabitq_spark.session import get_spark

    spark = get_spark(
        "profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVDIR}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from rabitq_spark.queries import SPARK_QUERIES, prepare

    for kind, sec in prepare(spark, args.sf).items():
        print(f"[prepare {kind}] {sec:.2f}s")
    for name in args.names:
        fn = SPARK_QUERIES[name]
        if not args.no_warmup:
            t0 = time.perf_counter()
            try:
                fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001
                print(f"[warmup {name}] failed: {exc!r}")
            print(f"[warmup {name}] {time.perf_counter() - t0:.2f}s")
        for rep in range(args.repeat):
            spark.sparkContext.setJobGroup(f"prof:{name}:{rep}", name)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobGroup("", "")
            print(f"[timed {name} rep{rep}] {dt:.2f}s")

    spark.stop()

    # ---- parse the event log ----
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [p for p in os.listdir(EVDIR) if p.startswith(app_id)]
        if cands:
            path = os.path.join(EVDIR, cands[0])
    jobs: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": (props.get("spark.job.description", "") or "")[:90],
                    "callsite": (props.get("callSite.short", "") or "")[:70],
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": 0,
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j:
                    j["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                # attribute tasks to the job holding this stage: cheap pass,
                # stage->job mapping via submission window
                for j in jobs.values():
                    if j.get("t0", 1e18) <= info.get(
                        "Submission Time", 0
                    ) and info.get("Completion Time", 0) <= j.get("t1", 1e18):
                        j["tasks"] += info.get("Number of Tasks", 0)
                        break

    print(f"\n== per-job breakdown ({len(jobs)} jobs) ==")
    tot = 0.0
    gap_prev_end = None
    gaps = 0.0
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        dur = (j["t1"] - j["t0"]) / 1000.0
        tot += dur
        if gap_prev_end is not None:
            gaps += max(0.0, (j["t0"] - gap_prev_end) / 1000.0)
        gap_prev_end = j["t1"]
        label = j["desc"] or j["callsite"]
        print(
            f"job {jid:4d}  {dur:7.2f}s  stages={j['stages']:2d} "
            f"tasks={j['tasks']:4d}  [{j['group'][:28]:28s}] {label}"
        )
    print(f"sum of job durations: {tot:.2f}s; inter-job driver gaps: {gaps:.2f}s")
    print(f"event log: {path}")


if __name__ == "__main__":
    main()
