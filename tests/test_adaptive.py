"""Adaptive early-stop probing (index/adaptive.py) — reference README.md:20.

Covers: (1) exhaustive-rerank adaptive == static exhaustive search frame-
exact (same rerank fold); (2) candidate-set equality vs brute force with
the engine actually retiring queries early; (3) early stop engages on
clusterable data (probed clusters well under n_clusters); (4) approximate
config stays within the standard recall contract.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import build_index, search, search_adaptive
from rabitq_spark.operators.knn import knn_exact_fast


@pytest.fixture(scope="module")
def clustered(spark):
    n, dim = 8000, 64
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 10, (25, dim))
    pts = centers[rng.integers(0, 25, n)] + rng.normal(0, 0.5, (n, dim))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, vec array<float>").cache()
    df.count()
    cfg = RaBitQConfig(n_clusters=32, nprobe=6, topk=10, overfetch=4)
    model = build_index(df, cfg, n_rows=n)
    model.index_df = model.index_df.cache()
    model.index_df.count()
    model.base_df = model.base_df.cache()
    model.base_df.count()
    queries = (
        df.limit(30)
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
        .cache()
    )
    queries.count()
    yield df, model, queries
    for d in (df, model.index_df, model.base_df, queries):
        d.unpersist()


def test_adaptive_exhaustive_equals_static_exhaustive(clustered):
    """Exhaustive-rerank adaptive must equal the probe-all static search
    frame-exactly: same rerank fold, same tie-break, and the triangle
    cutoff must not drop any true neighbor."""
    df, model, queries = clustered
    stats: dict = {}
    ad = (
        search_adaptive(model, queries, topk=10, overfetch=10**6, stats=stats)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    st = (
        search(model, queries, topk=10, nprobe=model.n_clusters, overfetch=10**6)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert ad.equals(st)
    # and the run must have actually early-stopped, or the test proves
    # nothing about the cutoff's soundness
    assert stats["retired_early"] > 0
    assert stats["probed_clusters_total"] < 30 * model.n_clusters


def test_adaptive_matches_brute_candidates(clustered):
    """Same neighbor ids and ranks as brute force (dist differs from
    knn_exact_fast's GEMM expansion only in float ulps)."""
    df, model, queries = clustered
    ad = (
        search_adaptive(model, queries, topk=10, overfetch=10**6)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    ex = (
        knn_exact_fast(queries, df, 10)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert (ad["neighbor_id"].values == ex["neighbor_id"].values).all()
    assert (ad["query_id"].values == ex["query_id"].values).all()
    assert np.allclose(ad["dist"].values, ex["dist"].values, rtol=1e-9, atol=1e-7)


def test_adaptive_probes_fraction_of_clusters(clustered):
    """On well-separated clusters the geometric cutoff should prove
    completeness after a small fraction of the 32 clusters per query."""
    df, model, queries = clustered
    stats: dict = {}
    search_adaptive(
        model, queries, topk=10, overfetch=10**6, stats=stats
    ).count()
    assert stats["avg_probes_per_query"] <= model.n_clusters / 2
    assert stats["waves"] >= 1


def test_adaptive_approximate_recall(clustered):
    """Default (bounded-rerank) config keeps the standard recall contract
    on clusterable data."""
    df, model, queries = clustered
    ad = search_adaptive(model, queries, topk=10, overfetch=32).toPandas()
    ex = knn_exact_fast(queries, df, 10).toPandas()
    hits = ad.merge(
        ex[["query_id", "neighbor_id"]], on=["query_id", "neighbor_id"]
    )
    assert len(hits) / len(ex) >= 0.9


def test_adaptive_topk_larger_than_cluster(spark):
    """k larger than any single cluster forces multi-wave expansion and
    exercises the tau-refinement path; result must still equal brute."""
    n, dim = 600, 32
    rng = np.random.default_rng(5)
    pts = rng.normal(0, 1, (n, dim))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, vec array<float>")
    cfg = RaBitQConfig(n_clusters=16, nprobe=4, topk=50, overfetch=4)
    model = build_index(df, cfg, n_rows=n)
    queries = df.limit(5).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    ad = (
        search_adaptive(model, queries, topk=50, overfetch=10**6, wave0=2)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    ex = (
        knn_exact_fast(queries, df, 50)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert (ad["neighbor_id"].values == ex["neighbor_id"].values).all()


def test_adaptive_jvm_kernel_equals_arrow(spark, sf_dir):
    """The per-wave jvm scorer (codegen join) must produce frame-identical
    results to the Arrow shortlist — same estimator, same trim — and a
    forced kernel must run in every wave."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import build_index, search_adaptive
    from rabitq_spark.metrics import SearchMetrics

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    model = build_index(base, RaBitQConfig(n_clusters=8, nprobe=4, topk=5))
    model.index_df = model.index_df.cache()
    frames = {}
    for k in ("arrow", "jvm"):
        met, stats = SearchMetrics(), {}
        frames[k] = (
            search_adaptive(
                model, queries, topk=5, overfetch=10**6, kernel=k,
                stats=stats, metrics=met,
            )
            .toPandas()
            .sort_values(["query_id", "rank"], ignore_index=True)
        )
        assert met.kernel == k
        assert stats["wave_kernels"] == [k] * stats["waves"]
    pd.testing.assert_frame_equal(frames["jvm"], frames["arrow"], check_exact=True)


def test_adaptive_returns_a_local_relation(clustered, monkeypatch):
    """The batch is one collect bounded by QUERY_MATRIX_MAX_BYTES (past it
    search_adaptive raises), and the ranked result is a local relation:
    no window job after the waves."""
    from rabitq_spark.index import vecstore

    df, model, queries = clustered
    got = search_adaptive(model, queries, topk=10)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan") and "Window" not in plan
    ranks = got.toPandas().groupby("query_id")["rank"].apply(list)
    assert all(r == list(range(1, 11)) for r in ranks)
    # room for 29 float64 64-d query rows: the 30-query batch is over the cap
    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", 29 * 64 * 8)
    with pytest.raises(ValueError, match="QUERY_MATRIX_MAX_BYTES"):
        search_adaptive(model, queries, topk=10)
