"""Physical-plan regression tests: the optimizations we rely on at scale
must actually appear in the executed plan (broadcast joins, WindowGroupLimit
partial top-k, Parquet filter pushdown + column pruning)."""

import contextlib
import io

from pyspark.sql import functions as F

from rabitq_spark.operators.knn import knn_exact
from rabitq_spark.operators.topk import topk_per_group


def _fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_knn_broadcasts_queries_and_uses_group_limit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = _fmt(knn_exact(queries, base, 5))
    assert "BroadcastNestedLoopJoin" in plan  # base never shuffles
    assert "WindowGroupLimit" in plan          # partial top-k, not full sort


def test_topk_window_group_limit(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _fmt(
        topk_per_group(
            orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
        )
    )
    assert "WindowGroupLimit" in plan


def test_parquet_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _fmt(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: scan must read only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Co-located join: two tables bucketed by the join key into the same
    bucket count must SortMergeJoin with NO shuffle exchange on either side
    (the bucketed scan provides the partitioning)."""
    from rabitq_spark.sources.tables import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    try:
        bo = write_bucketed(
            orders, "test_orders_bkt", "o_custkey", 8, sort_col="o_custkey"
        )
        bc = write_bucketed(
            customer, "test_customer_bkt", "c_custkey", 8, sort_col="c_custkey"
        )
        # MERGE hint: at test scale Catalyst would broadcast the small side
        # (also shuffle-free, but not what we're demonstrating); at real
        # scale both sides are too big to broadcast and SMJ is the plan.
        joined = bo.join(bc.hint("merge"), bo.o_custkey == bc.c_custkey).select(
            "o_orderkey", "c_name"
        )
        plan = _fmt(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: the co-located join returns the same rows as the plain join
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS test_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS test_customer_bkt")


def test_ann_search_plan_shape(spark, sf_dir, monkeypatch):
    """The executor tail's plan. A batch past the driver cap (patched to 0
    here) has no probe table on the driver: its jvm join shuffles both
    sides by cluster_id, with no probe-side broadcast, whatever kernel it
    asks for. A driver probe table (the frame query side, forced by a 0
    query-matrix cap) broadcasts into the same join. Both cut the top-R
    with WindowGroupLimit. A driver-tail batch finishes on the driver
    instead (tests/test_driver_path.py)."""
    import importlib
    import re

    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import build_index, search, vecstore

    search_mod = importlib.import_module("rabitq_spark.index.search")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    model = build_index(base, RaBitQConfig(n_clusters=8))

    def _tree(df) -> str:  # join keys inline, as _fmt does not print them
        return df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", 0)
    plan = _tree(search(model, queries, topk=5, nprobe=2))
    assert re.search(r"BroadcastHashJoin \[cluster_id#", plan)  # driver probes
    assert "WindowGroupLimit" in plan    # top-R shortlist is partial
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 0)
    for impl in ("auto", "arrow"):
        plan = _tree(search(model, queries, topk=5, nprobe=2, impl=impl))
        assert re.search(r"SortMergeJoin \[cluster_id#", plan)
        assert not re.search(r"BroadcastHashJoin \[cluster_id#", plan)
        assert "MapInArrow" not in plan
        assert "WindowGroupLimit" in plan


def test_bucketed_model_rerank_join_no_base_exchange(spark, sf_dir):
    """persist_bucketed: the J3 rerank join against a bucketed base must not
    shuffle the base side — only the shortlist moves (round-3 verdict item:
    at 100 TB the base table is the side that must never move). Also checks
    the bucketed model returns bit-identical search results."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import build_index, search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    model = build_index(base, RaBitQConfig(n_clusters=8, nprobe=8, overfetch=8))
    try:
        bucketed = model.persist_bucketed(n_buckets=4, name="t_plan_model")
        shortlist = bucketed.index_df.select("orig_id").limit(50)
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plain = _fmt(shortlist.join(model.base_df, "orig_id"))
            buck = _fmt(shortlist.join(bucketed.base_df, "orig_id"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        # unbucketed: both sides exchange; bucketed: only the shortlist side
        # (formatted plans print every node twice — tree + detail section —
        # so one fewer Exchange NODE is two fewer string occurrences)
        assert plain.count("Exchange") == buck.count("Exchange") + 2
        # and the bucketed model's search is bit-identical
        a = search(model, queries, topk=5).toPandas().sort_values(
            ["query_id", "rank"], ignore_index=True
        )
        b = search(bucketed, queries, topk=5).toPandas().sort_values(
            ["query_id", "rank"], ignore_index=True
        )
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_plan_model_index")
        spark.sql("DROP TABLE IF EXISTS t_plan_model_base")


def test_grouped_simjoin_is_group_keyed_not_cartesian(spark, sf_dir):
    from rabitq_spark.operators.simjoin import grouped_similarity_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = grouped_similarity_join(
        emb, "label", id_col="vec_id", vec_col="embedding", k=3
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pair join must be keyed by the group column — never a cartesian
    # or nested-loop expansion across groups
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redact_is_scan_only(spark, sf_dir):
    """Redaction must be pure map work: no Exchange anywhere in the plan."""
    from rabitq_spark.functions.redact import pii_count, redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _fmt(
        docs.select(
            "doc_id",
            redact_pii("text").alias("red"),
            pii_count("text", "email").alias("ne"),
        )
    )
    assert "Exchange" not in plan
    assert "codegen id" in plan  # rides whole-stage codegen


def test_profile_is_single_aggregate_pass(spark, sf_dir):
    """One scan: exactly one Parquet relation in the profiling plan."""
    import re

    from rabitq_spark.operators.profile import profile_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    plan = _fmt(profile_table(ev))
    # formatted output lists each node once in the tree and once in the
    # details section — count distinct node headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan  # the multi-COUNT(DISTINCT) expansion, one pass


def test_matview_merge_single_join_no_extra_shuffle(spark):
    """State merge = one SortMergeJoin/shuffle pair on the key, nothing else
    exotic (no cartesian, no nested loop)."""
    from rabitq_spark.operators.matview import agg_state, merge_agg_state

    a = spark.createDataFrame([(1, 1.0)], ["k", "v"])
    b = spark.createDataFrame([(2, 2.0)], ["k", "v"])
    plan = _fmt(
        merge_agg_state(
            agg_state(a, ["k"], ["v"]), agg_state(b, ["k"], ["v"]), ["k"], ["v"]
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_rough_distance_is_codegen(spark, sf_dir):
    """The unrolled SQ8 estimator must stay inside whole-stage codegen with
    no higher-order-function allocation in the hot path."""
    from rabitq_spark.index.sq8 import sq8_encode_expr, sq8_rough_dist_expr, sq8_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    lo, hi = sq8_train(base, "vec")
    coded = base.select(
        "id", sq8_encode_expr("vec", lo, hi).alias("code")
    ).crossJoin(
        emb.limit(1).select(sq8_encode_expr("embedding", lo, hi).alias("qcode"))
    )
    plan = _fmt(coded.select(sq8_rough_dist_expr("code", "qcode", lo, hi).alias("d")))
    # the real claim: the estimator is unrolled scalar terms, NOT a
    # higher-order aggregate/transform fold in the scoring projection
    assert "aggregate(" not in plan
    assert "CartesianProduct" not in plan  # query side broadcasts


def test_source_quota_uses_window_group_limit(spark, sf_dir):
    """rank <= quota must compile to WindowGroupLimit so map tasks forward
    at most quota rows per source before the shuffle."""
    from rabitq_spark.operators.curate import source_quota

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    plan = _fmt(source_quota(docs, quota=10))
    assert "WindowGroupLimit" in plan


def test_weighted_sample_single_scan_topk(spark, sf_dir):
    """The E-S key is computed in a project over ONE scan; global top-k via
    WindowGroupLimit, no self-join."""
    from rabitq_spark.operators.curate import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    import re

    plan = _fmt(weighted_sample(docs, k=10, weight_col="n_chars"))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    # global (unpartitioned) top-k compiles to TakeOrderedAndProject — each
    # task forwards its local k, the driver merges; per-group variants get
    # WindowGroupLimit. Either way, no full global sort.
    assert "TakeOrdered" in plan or "WindowGroupLimit" in plan


def test_jaccard_estimate_hashes_each_word_once(spark, sf_dir, monkeypatch):
    """jaccard_estimate's checkpointed signature table evaluates the word
    hashes once per doc: one md5 in its optimized plan. Inlined into
    combine_word_hashes, or under a filter on the shingle set pushed below
    the projections, they would be evaluated once per reference."""
    from rabitq_spark.queries import SPARK_QUERIES

    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    SPARK_QUERIES["jaccard_estimate"](spark, sf_dir)
    assert [p.count("md5(") for p in plans] == [1]
