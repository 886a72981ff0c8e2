"""Degenerate-input robustness: empty query batches, no-match corpora,
empty deltas — the operators must return empty/identity results, not throw."""

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "entry", ["search", "range_search", "adaptive_jvm", "adaptive_arrow"]
)
def test_search_empty_query_batch(spark, sf_dir, entry):
    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import build_index, range_search, search, search_adaptive

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    model = build_index(base, RaBitQConfig(n_clusters=8, topk=5))
    empty_q = emb.filter("vec_id < 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    if entry == "search":
        out = search(model, empty_q, topk=5)
    elif entry == "range_search":
        out = range_search(model, empty_q, 1.0)
    else:
        kernel = entry.split("_")[1]
        out = search_adaptive(model, empty_q, topk=5, kernel=kernel)
    assert out.count() == 0


def test_minhash_no_pairs_corpus(spark):
    from rabitq_spark.operators.dedup import neardup_minhash_pairs
    from rabitq_spark.operators.graph import neardup_groups

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(20))) for i in range(8)],
        ["doc_id", "text"],
    )
    pairs = neardup_minhash_pairs(docs, shingle_words=3, n_bands=8, threshold=0.8)
    assert pairs.count() == 0
    groups = neardup_groups(docs, pairs).collect()
    assert len(groups) == 8
    assert all(r["is_dup"] == 0 and r["group_size"] == 1 for r in groups)


def test_matview_empty_delta(spark):
    from rabitq_spark.operators.matview import agg_state, incremental_refresh

    rows = spark.createDataFrame([(1, 2.0), (2, 3.0)], ["user_id", "value"])
    empty = rows.filter("user_id < 0")
    state = agg_state(rows, ["user_id"], ["value"])
    refreshed = incremental_refresh(state, empty, ["user_id"], ["value"])
    a = sorted(map(tuple, state.collect()))
    b = sorted(map(tuple, refreshed.collect()))
    assert a == b


def test_phrase_search_absent_word(spark):
    from rabitq_spark.operators.invindex import phrase_search

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    assert phrase_search(docs, "a zz").count() == 0
    assert phrase_search(docs, "zz").count() == 0


def test_bloom_probe_empty_filter(spark):
    from rabitq_spark.functions.sketch import bloom_build, bloom_probe

    empty = spark.createDataFrame([], "v bigint")
    bits = bloom_build(empty, "v")
    probes = spark.createDataFrame([(1,), (2,)], ["v"])
    out = bloom_probe(bits, probes, "v").collect()
    assert len(out) == 2 and not any(r["maybe_member"] for r in out)


def test_sq8_constant_dimension(spark):
    # a constant dimension has lo == hi: codes must stay finite and the
    # exhaustive result must still equal brute force
    from rabitq_spark.index.sq8 import sq8_search, sq8_train
    from rabitq_spark.operators.knn import knn_exact

    rows = [(i, [float(i % 5), 7.0, float(i)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "vec"]).select(
        "id", F.col("vec").cast("array<float>").alias("vec")
    )
    lo, hi = sq8_train(df, "vec")
    assert lo[1] == hi[1]
    q = df.filter("id < 3").select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    exact = knn_exact(q, df, 4).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    sq = sq8_search(q, df, 4, lo, hi, shortlist=10**9).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    assert exact.equals(sq)


def test_funnel_ordered_vs_unordered(spark):
    """Order sensitivity: a purchase BEFORE the click chain must not count;
    funnel_counts (existence-only) sees it, funnel_ordered does not."""
    from rabitq_spark.operators.events import funnel_ordered

    df = spark.createDataFrame(
        [
            (1, 1, "purchase"),  # too early — before signup/click
            (1, 2, "signup"),
            (1, 3, "click"),
            (2, 1, "signup"),
            (2, 2, "click"),
            (2, 3, "purchase"),
            (3, 1, "view"),
        ],
        "user_id long, ts_us long, event_type string",
    )
    got = {r.user_id: r.stage for r in funnel_ordered(df).collect()}
    assert got == {1: 2, 2: 3, 3: 0}


def test_round4_ops_on_empty_inputs(spark):
    """Empty frames must produce empty (or zero-row) results, not errors."""
    from pyspark.sql import functions as F

    from rabitq_spark.operators.audit import pk_violations, predicate_violations
    from rabitq_spark.operators.curate import source_quota, weighted_sample
    from rabitq_spark.operators.events import funnel_ordered
    from rabitq_spark.operators.mmr import mmr_rerank
    from rabitq_spark.operators.sft import conversation_stats
    from rabitq_spark.operators.timeseries import resample_locf

    empty_docs = spark.createDataFrame(
        [], "doc_id long, source string, n_chars long"
    )
    assert weighted_sample(empty_docs, 5, "n_chars").count() == 0
    assert source_quota(empty_docs, 5).count() == 0
    empty_ev = spark.createDataFrame(
        [], "user_id long, ts_us long, event_type string, value double"
    )
    assert funnel_ordered(empty_ev).count() == 0
    assert resample_locf(empty_ev).count() == 0
    empty_conv = spark.createDataFrame(
        [], "doc_id long, conv array<struct<role string, content string>>"
    )
    assert conversation_stats(empty_conv, "conv").count() == 0
    empty_cand = spark.createDataFrame(
        [], "query_id long, cand_id long, rel double, vec array<double>"
    )
    assert mmr_rerank(empty_cand, 3).count() == 0
    # aggregate checks on empty tables report 0 violations (not NULL)
    assert pk_violations(empty_docs, ["doc_id"]).first()["violations"] == 0
    v = predicate_violations(empty_docs, F.col("n_chars") > 0).first()["violations"]
    assert v == 0  # empty table = zero violations, never NULL
