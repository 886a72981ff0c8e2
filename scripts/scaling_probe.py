"""Scaling probe: IVF+RaBitQ vs brute force as |base| grows.

The driver testdata tops out at 2,000 embeddings — too small to show where
the index pays off — so this probe generates seeded synthetic vectors IN
SPARK (not used for any correctness oracle; performance evidence only,
recorded in PLAN.md) and measures 1k-query batch wall time for both paths.

Run: PYTHONPATH=/root/repo python scripts/scaling_probe.py [n_base ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import build_index, search
from rabitq_spark.operators.knn import knn_exact_fast
from rabitq_spark.session import get_spark

import os

DIM = int(os.environ.get("PROBE_DIM", "64"))
PROBE_DIV = int(os.environ.get("PROBE_DIV", "8"))
NQ = int(os.environ.get("PROBE_NQ", "1000"))
# rough kernel passed to search(impl=...): jvm | arrow | auto
IMPL = os.environ.get("PROBE_IMPL", "jvm")
if IMPL not in ("jvm", "arrow", "auto"):
    raise SystemExit(f"PROBE_IMPL must be jvm, arrow or auto, got {IMPL!r}")
K = 10


def synth(spark, n, n_clusters_data=64, seed=7):
    """Seeded Gaussian-mixture vectors generated executor-side."""
    centers = np.random.default_rng(seed).standard_normal((n_clusters_data, DIM)) * 3

    def gen(it):
        import pandas as pd

        for pdf in it:
            ids = pdf["id"].values
            rng = np.random.default_rng(seed ^ int(ids[0]))
            lab = rng.integers(0, n_clusters_data, len(ids))
            vecs = (centers[lab] + rng.standard_normal((len(ids), DIM))).astype(
                np.float32
            )
            yield pd.DataFrame({"id": ids, "vec": list(vecs)})

    return (
        spark.range(n).select(F.col("id"))
        .repartition(32)
        .mapInPandas(gen, "id bigint, vec array<float>")
    )


def main():
    sizes = [int(x) for x in sys.argv[1:]] or [2_000, 20_000, 100_000, 400_000]
    spark = get_spark("scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    print("n_base | build_s | ivf_1k_s | brute_1k_s | ivf_recall")
    for n in sizes:
        base = synth(spark, n).cache()
        base.count()
        queries = (
            base.limit(NQ)
            .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
            .cache()
        )
        queries.count()
        k_clusters = max(16, int(np.sqrt(n)))
        cfg = RaBitQConfig(
            n_clusters=k_clusters, nprobe=max(8, k_clusters // PROBE_DIV), topk=K, overfetch=16
        )
        t0 = time.perf_counter()
        model = build_index(base, cfg, kmeans_sample_fraction=min(1.0, 50_000 / n))
        model.index_df = model.index_df.cache()
        model.index_df.count()
        model.base_df = model.base_df.cache()
        model.base_df.count()
        build_s = time.perf_counter() - t0

        search(model, queries.limit(10), impl=IMPL).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        approx = search(model, queries, impl=IMPL).toPandas()
        ivf_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        exact = knn_exact_fast(queries, base, K).toPandas()
        brute_s = time.perf_counter() - t0

        hits = approx.merge(
            exact[["query_id", "neighbor_id"]], on=["query_id", "neighbor_id"]
        )
        recall = len(hits) / len(exact)
        print(
            f"{n:>7} | {build_s:7.1f} | {ivf_s:8.2f} | {brute_s:10.2f} | {recall:9.3f}"
        )
        base.unpersist()
        queries.unpersist()
        model.index_df.unpersist()
        model.base_df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
