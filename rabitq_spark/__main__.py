"""Command-line interface — the reference CLI flow re-expressed batch-first
(crates/cli/src/main.rs:11-84: load-or-train against a saved dir, query a
.fvecs batch, report QPS + recall vs a .ivecs ground truth; args -b/-q/-t/
-s/-p/-k kept name-compatible). The Spark difference: the query set runs as
ONE batch plan through index/search.py — per-query latency is a local-mode
artifact, batch throughput is the contract (BASELINE.md).

    python -m rabitq_spark run -b base.fvecs -q query.fvecs -t truth.ivecs \
        -s ./saved -p 100 -k 10
    python -m rabitq_spark convert --src base.fvecs --dst base_parquet
    python -m rabitq_spark serve -s ./saved --port 9000
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from rabitq_spark import _fs


def _session(name: str):
    """get_spark, plus whether WE created it — a CLI invoked inside an
    existing session (tests, notebooks) must not stop the caller's."""
    from pyspark.sql import SparkSession

    from rabitq_spark.session import get_spark

    owns = SparkSession.getActiveSession() is None
    return get_spark(name), owns


def _load_base(spark, path: str):
    from pyspark.sql import functions as F

    from rabitq_spark.sources.vecs import read_vecs

    if path.endswith(".fvecs"):
        return read_vecs(spark, path, "fvecs")
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if {"id", "vec"} <= cols:
        return df.select("id", "vec")
    return df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))


def _cmd_run(args) -> int:
    import numpy as np
    from pyspark.sql import functions as F

    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import RaBitQModel, build_index, search
    from rabitq_spark.sources.vecs import read_vecs

    spark, owns = _session("rabitq_cli")
    if _fs.exists(f"{args.saved}/meta.json"):
        model = RaBitQModel.load(spark, args.saved)
    else:
        base = _load_base(spark, args.base)
        n = base.count()
        clusters = args.clusters or max(4, int(np.sqrt(n)))
        model = build_index(
            base, RaBitQConfig(n_clusters=clusters, topk=args.topk), n_rows=n
        )
        model.save(args.saved)
        model = RaBitQModel.load(spark, args.saved)

    queries = read_vecs(spark, args.query, "fvecs").select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    nprobe = min(args.probe, model.n_clusters)
    # warm once (JIT/codegen/broadcast), then the timed batch
    search(model, queries.limit(8), topk=args.topk, nprobe=nprobe).write.format(
        "noop"
    ).mode("overwrite").save()
    t0 = time.perf_counter()
    got = search(model, queries, topk=args.topk, nprobe=nprobe).toPandas()
    wall = time.perf_counter() - t0
    nq = int(got["query_id"].nunique())

    out = {
        "n_queries": nq,
        "topk": args.topk,
        "probe": nprobe,
        "wall_sec": round(wall, 3),
        "qps": round(nq / wall, 1) if wall > 0 else None,
    }
    if args.truth:
        truth = read_vecs(spark, args.truth, "ivecs").toPandas()
        gt = {
            int(r["id"]): set(int(x) for x in r["vec"][: args.topk])
            for _, r in truth.iterrows()
        }
        hits = sum(
            1
            for _, r in got.iterrows()
            if int(r["neighbor_id"]) in gt.get(int(r["query_id"]), set())
        )
        out["recall"] = round(hits / max(nq * args.topk, 1), 4)
    print(json.dumps(out))
    if owns:
        spark.stop()
    return 0


def _cmd_convert(args) -> int:
    from rabitq_spark.sources.vecs import convert_vecs_to_parquet

    spark, owns = _session("rabitq_convert")
    convert_vecs_to_parquet(spark, args.src, args.dst, args.kind)
    print(json.dumps({"converted": args.src, "to": args.dst}))
    if owns:
        spark.stop()
    return 0


def _cmd_serve(args) -> int:
    from rabitq_spark.index import RaBitQModel
    from rabitq_spark.service import SearchService

    spark, _owns = _session("rabitq_serve")
    model = RaBitQModel.load(spark, args.saved)
    svc = SearchService(spark, model, default_topk=args.topk)
    port = svc.start(args.port)
    print(json.dumps({"serving": True, "port": port}), flush=True)
    try:
        svc._thread.join()
    except KeyboardInterrupt:
        svc.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rabitq_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="load-or-train, query, report QPS+recall")
    run.add_argument("-b", "--base", required=True, help=".fvecs or parquet")
    run.add_argument("-q", "--query", required=True, help=".fvecs")
    run.add_argument("-t", "--truth", help=".ivecs ground truth (optional)")
    run.add_argument("-s", "--saved", required=True, help="model dir")
    run.add_argument("-p", "--probe", type=int, default=100)
    run.add_argument("-k", "--topk", type=int, default=10)
    run.add_argument("--clusters", type=int, default=None)
    run.set_defaults(fn=_cmd_run)

    conv = sub.add_parser("convert", help=".?vecs -> parquet migration")
    conv.add_argument("--src", required=True)
    conv.add_argument("--dst", required=True)
    conv.add_argument("--kind", default="fvecs",
                      choices=["fvecs", "ivecs", "u64vecs", "bvecs"])
    conv.set_defaults(fn=_cmd_convert)

    srv = sub.add_parser("serve", help="HTTP service over a saved model")
    srv.add_argument("-s", "--saved", required=True)
    srv.add_argument("-p", "--port", type=int, default=9000)
    srv.add_argument("-k", "--topk", type=int, default=10)
    srv.set_defaults(fn=_cmd_serve)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
