"""Extended multi-bit base codes (config.bits_per_dim >= 2).

Invariants:
  1. Exhaustive search on a multi-bit index is bit-identical to brute force
     (rerank covers everything; the estimator family cannot change results).
  2. At a TIGHT rough budget (small overfetch) the 2-bit estimator ranks at
     least as well as the 1-bit RaBitQ estimator — the whole point of paying
     2x the code bytes. Deterministic: seeded data, seeded build.
  3. The estimator is unbiased in aggregate: mean signed error of rough vs
     exact distance over all (query, candidate) pairs is small relative to
     the distance scale.
  4. Save/load round-trips bits_per_dim and reproduces search results.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import RaBitQModel, build_index, search
from rabitq_spark.index.search import (
    _prepare_probes,
    rough_distance_expr_multibit,
)
from rabitq_spark.metrics import SearchMetrics
from rabitq_spark.operators.knn import knn_exact

K = 5
NQ = 8


@pytest.fixture(scope="module")
def data(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(f"vec_id < {NQ}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return base, queries


@pytest.fixture(scope="module")
def model2(spark, data):
    base, _ = data
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8, bits_per_dim=2)
    m = build_index(base, cfg)
    m.index_df = m.index_df.cache()
    return m


def test_multibit_exhaustive_equals_exact(spark, data, model2):
    base, queries = data
    exact = knn_exact(queries, base, K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    exh = search(
        model2, queries, topk=K, nprobe=model2.n_clusters, overfetch=10**6
    ).toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(exh, exact, check_exact=True)


def _shortlist_recall(model, queries, exact, r):
    """Recall of the ROUGH top-r shortlist itself (no rerank): the cleanest
    read on estimator quality — how many true neighbors the estimator keeps."""
    probes = _prepare_probes(
        model, queries, "query_id", "qvec", model.n_clusters
    )
    cfg = model.config
    if cfg.bits_per_dim > 1:
        est = rough_distance_expr_multibit(
            cfg.bits_per_dim, cfg.theta_log_dim, model.n_words, model.dim_pad
        )
    else:
        from rabitq_spark.index.search import rough_distance_expr

        est = rough_distance_expr(cfg.theta_log_dim, model.n_words)
    cand = model.index_df.join(F.broadcast(probes), "cluster_id").select(
        "query_id", "orig_id", est.alias("rough")
    )
    from rabitq_spark.operators.topk import topk_per_group

    short = topk_per_group(
        cand, ["query_id"], [F.col("rough").asc(), F.col("orig_id").asc()], r
    ).toPandas()
    hits = short.merge(
        exact, left_on=["query_id", "orig_id"], right_on=["query_id", "neighbor_id"]
    )
    return len(hits) / len(exact)


def test_multibit_estimator_beats_single_bit_at_tight_budget(spark, data, model2):
    """Recall of the rough shortlist climbs with every added base plane at a
    fixed tight budget (measured on this fixture: 0.575 → 0.75 → 0.975 at
    bits 1/2/3, r = 2K) — the accuracy-per-byte contract of extended codes."""
    base, queries = data
    exact = knn_exact(queries, base, K).toPandas()[["query_id", "neighbor_id"]]
    r = 2 * K  # tight: 10 shortlist slots for 5 true neighbors
    model1 = build_index(
        base, RaBitQConfig(n_clusters=8, topk=K, bits_per_dim=1)
    )
    model3 = build_index(
        base, RaBitQConfig(n_clusters=8, topk=K, bits_per_dim=3)
    )
    rec1 = _shortlist_recall(model1, queries, exact, r)
    rec2 = _shortlist_recall(model2, queries, exact, r)
    rec3 = _shortlist_recall(model3, queries, exact, r)
    assert rec1 <= rec2 <= rec3, (rec1, rec2, rec3)
    assert rec3 >= 0.9, rec3


def test_multibit_estimator_unbiased(spark, data, model2):
    base, queries = data
    probes = _prepare_probes(
        model2, queries, "query_id", "qvec", model2.n_clusters
    )
    cfg = model2.config
    est = rough_distance_expr_multibit(
        cfg.bits_per_dim, cfg.theta_log_dim, model2.n_words, model2.dim_pad
    )
    cand = (
        model2.index_df.join(F.broadcast(probes), "cluster_id")
        .select("query_id", "orig_id", est.alias("rough"))
        .toPandas()
    )
    exact = (
        knn_exact(queries, base, 10**6)
        .select("query_id", F.col("neighbor_id").alias("orig_id"), "dist")
        .toPandas()
    )
    j = cand.merge(exact, on=["query_id", "orig_id"])
    assert len(j) == len(cand)
    err = j["rough"] - j["dist"]
    scale = j["dist"].mean()
    # unbiased: signed errors cancel; spread well below the distance scale
    assert abs(err.mean()) < 0.05 * scale, (err.mean(), scale)
    assert err.abs().mean() < 0.25 * scale, (err.abs().mean(), scale)


def test_auto_overfetch_scales_down_with_bits(spark, data, model2):
    """Each extra base plane halves the rerank width the rule picks; the
    1-bit behavior is unchanged (sharp = 1) so existing recall gates hold."""
    from rabitq_spark.index.search import auto_overfetch

    base, _ = data
    m1 = build_index(
        base, RaBitQConfig(n_clusters=8, topk=K, overfetch=16, bits_per_dim=1),
        n_rows=1_000_000,
    )
    m4 = build_index(
        base, RaBitQConfig(n_clusters=8, topk=K, overfetch=16, bits_per_dim=4),
        n_rows=1_000_000,
    )
    # pool = nprobe × avg_cluster = 4 × 125k = 500k; 2% / topk = 1000 slots
    of1 = auto_overfetch(m1, nprobe=4, topk=10)
    of4 = auto_overfetch(m4, nprobe=4, topk=10)
    assert of1 == 1000
    assert of4 == 125  # 1000 / 2^(4-1)
    # tiny pools floor at 4, never below
    m4_small = build_index(
        base, RaBitQConfig(n_clusters=8, topk=K, overfetch=16, bits_per_dim=4),
        n_rows=100,
    )
    assert auto_overfetch(m4_small, nprobe=1, topk=10) == 4


def test_multibit_save_load_roundtrip(spark, data, model2, tmp_path):
    _, queries = data
    path = str(tmp_path / "mb_model")
    model2.save(path)
    loaded = RaBitQModel.load(spark, path)
    assert loaded.config.bits_per_dim == 2
    a = search(model2, queries, topk=K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    b = search(loaded, queries, topk=K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.fixture(scope="module")
def model4(spark, data):
    base, _ = data
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8, bits_per_dim=4)
    m = build_index(base, cfg)
    m.index_df = m.index_df.cache()
    return m


def _arrow_search(model, queries, **kwargs):
    """search(impl="arrow") sorted by (query_id, rank), asserting the
    Arrow kernel actually ran: 8 queries over 8 clusters sit under every
    auto floor, so a demotion to the jvm join would otherwise compare
    jvm with itself."""
    met = SearchMetrics()
    frame = search(model, queries, impl="arrow", metrics=met, **kwargs)
    frame = frame.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    assert met.kernel == "arrow", met.kernel_reason
    return frame


@pytest.mark.parametrize("bits", [2, 4])
def test_multibit_arrow_impls_equal_jvm(spark, data, request, bits):
    """Multi-bit codes through the Arrow kernel: the symmetric cross-plane
    estimator's integer term is one value GEMM of the unpacked query and
    base values, so the Arrow plan must reproduce the jvm plan's results
    exactly."""
    base, queries = data
    model = request.getfixturevalue(f"model{bits}")
    a = search(model, queries, impl="jvm").toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    pd.testing.assert_frame_equal(
        a, _arrow_search(model, queries), check_exact=True
    )


@pytest.mark.parametrize("bits", [2, 4])
def test_multibit_arrow_exhaustive_equals_exact(spark, data, request, bits):
    """Exhaustive multi-bit search through the Arrow kernel is bit-exact
    to brute force — the strongest cross-impl invariant (rerank covers
    every row regardless of how the shortlist was ordered)."""
    base, queries = data
    model = request.getfixturevalue(f"model{bits}")
    exact = knn_exact(queries, base, K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    exh = _arrow_search(
        model, queries, topk=K, nprobe=model.n_clusters, overfetch=10**6
    )
    pd.testing.assert_frame_equal(exh, exact, check_exact=True)
