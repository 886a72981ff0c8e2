"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch_knn --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds nothing: it imports the engine from
the checkout's `rabitq_spark/`, starts Spark on half the cores, generates the
workload's inputs from the seed, sets up three times, measures a closed loop
for `--seconds`, checks every output, and prints one JSON object as the last
line of stdout: the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`. All files go to `perfbench/.work/` and are removed at exit,
except a traced run's span file `perfbench/.work/trace-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "3g"

END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "throughput": "1/s", "quality": "fraction"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: Path):
    """Spark on half the cores of this process, with every scratch file
    (shuffle, broadcast, the engine's executor zip, JVM temp) under `work`.

    Half, not all: the Spark driver, the client loop, the Python workers and
    the JVM's own threads run beside the task threads (the JIT compiler
    alone keeps most of a core busy well into the measured loop)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # both JVMs (spark-submit's launcher and Spark's driver) keep their temp
    # files in `work`, write no /tmp/hsperfdata entry,
    # and collect garbage on as many threads as Spark runs tasks
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ParallelGCThreads={cores}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}".strip()
    tempfile.tempdir = None
    from rabitq_spark import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM (it exits when its stdin
    closes) and wait for it; its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(out) -> dict:
    """Medians over the run, throughput too (the items of one op over the
    median op wall): on a shared host a few ops stalled by the neighbours
    move a mean far more than a median."""
    op_s = statistics.median(out.op_walls)
    values = {
        "setup_s": statistics.median(out.setup_walls),
        "op_p50_ms": op_s * 1e3,
        "throughput": out.items / len(out.op_walls) / op_s,
        "quality": sum(out.quality) / len(out.quality) if out.quality else 0.0,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def summary(args, out) -> str:
    from tracing import percentile, tail_level

    n = len(out.op_walls)
    level = tail_level(n)
    tail = (f", p{round(level * 100)} {percentile(out.op_walls, level) * 1e3:.1f} ms"
            if level else ", no tail percentile (fewer than 100 ops)")
    return (f"# {args.workload} seed={args.seed} trace={args.trace}: {n} ops, "
            f"median {statistics.median(out.op_walls) * 1e3:.1f} ms{tail}; "
            f"{out.failed}/{out.attempted} failed; op walls (s) "
            f"{' '.join(f'{w:.2f}' for w in out.op_walls)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "rabitq_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = HERE / ".work"
    work = scratch / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    tracer = Tracer()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = start_spark(work)
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
        out = workloads.WORKLOADS[args.workload](ctx)
        if ctx.trace:
            metrics = {
                k: {"value": v, "unit": workloads.PER_LAYER[k]}
                for k, v in workloads.layer_report(ctx, out).items()
            }
            tracer.write(scratch / f"trace-{args.workload}-{args.seed}.json")
        else:
            metrics = end_to_end(out)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for note in out.notes:
        print(f"# {note}")
    print(summary(args, out))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
