"""Materialized-state incremental near-dup: NearDupState's layered
bootstrap+delta sessions must reproduce the one-shot full recompute
bit-for-bit (the banded-candidacy split identity, round-4 verdict item 5)."""

import pandas as pd
from pyspark.sql import functions as F

from rabitq_spark.operators.dedup import NearDupState, neardup_minhash_pairs


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["id_a", "id_b"], ignore_index=True)


def test_two_delta_batches_equal_full_recompute(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = _norm(neardup_minhash_pairs(docs).toPandas())

    base_dir = str(tmp_path / "base")
    boot = NearDupState(spark, base_dir)
    boot.bootstrap(docs.filter(F.col("doc_id") % 10 >= 2))

    state = NearDupState(spark, base_dir, str(tmp_path / "delta"))
    d1 = state.apply_delta(docs.filter(F.col("doc_id") % 10 == 0))
    d2 = state.apply_delta(docs.filter(F.col("doc_id") % 10 == 1))
    got = _norm(state.pairs().toPandas())
    pd.testing.assert_frame_equal(got, full, check_exact=True)

    # each batch's return value is exactly its contribution: disjoint from
    # the bootstrap pairs and from each other, union = the delta layers
    boot_pairs = _norm(NearDupState(spark, base_dir).pairs().toPandas())
    contributed = _norm(pd.concat([d1.toPandas(), d2.toPandas()]))
    merged = _norm(pd.concat([boot_pairs, contributed]))
    pd.testing.assert_frame_equal(merged, full, check_exact=True)
    assert len(merged) == len(merged.drop_duplicates(["id_a", "id_b"]))


def test_fresh_delta_session_is_idempotent(spark, sf_dir, tmp_path):
    """A second delta session against the SAME bootstrap dir (the
    production nightly-batch shape: state on disk, new session per batch)
    must see only the bootstrap layer, not a prior session's appends."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_dir = str(tmp_path / "base")
    NearDupState(spark, base_dir).bootstrap(
        docs.filter(F.col("doc_id") % 10 >= 2)
    )
    delta = docs.filter(F.col("doc_id") % 10 < 2)

    s1 = NearDupState(spark, base_dir, str(tmp_path / "d1"))
    s1.apply_delta(delta)
    p1 = _norm(s1.pairs().toPandas())

    s2 = NearDupState(spark, base_dir, str(tmp_path / "d2"))
    s2.apply_delta(delta)
    p2 = _norm(s2.pairs().toPandas())
    pd.testing.assert_frame_equal(p1, p2, check_exact=True)


def test_compact_then_delta_equals_full_recompute(spark, sf_dir, tmp_path):
    """compact() merges layers without recomputation: a delta applied on
    the compacted single-layer state must still land exactly on the full
    recompute."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = _norm(neardup_minhash_pairs(docs).toPandas())

    base_dir = str(tmp_path / "base")
    NearDupState(spark, base_dir).bootstrap(
        docs.filter(F.col("doc_id") % 10 >= 2)
    )
    s1 = NearDupState(spark, base_dir, str(tmp_path / "d1"))
    s1.apply_delta(docs.filter(F.col("doc_id") % 10 == 0))

    compacted = s1.compact(str(tmp_path / "compacted"))
    # compaction is a pure rewrite: same pairs before new deltas
    pd.testing.assert_frame_equal(
        _norm(compacted.pairs().toPandas()), _norm(s1.pairs().toPandas()),
        check_exact=True,
    )

    s2 = NearDupState(
        spark, str(tmp_path / "compacted"), str(tmp_path / "d2")
    )
    s2.apply_delta(docs.filter(F.col("doc_id") % 10 == 1))
    pd.testing.assert_frame_equal(
        _norm(s2.pairs().toPandas()), full, check_exact=True
    )


def test_streamed_maintenance_equals_full_recompute(spark, sf_dir, tmp_path):
    """Structured-Streaming micro-batch maintenance (one apply_delta per
    batch, availableNow drain) lands on the batch recompute bit-exactly —
    the split identity is associative over any micro-batch partitioning."""
    from rabitq_spark.streaming.neardup_stream import (
        neardup_state_maintenance_stream,
        read_doc_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = _norm(neardup_minhash_pairs(docs).toPandas())

    base_dir = str(tmp_path / "base")
    NearDupState(spark, base_dir).bootstrap(
        docs.filter(F.col("doc_id") % 10 >= 2)
    )
    stream_in = str(tmp_path / "in")
    for r in (0, 1):
        (
            docs.filter(F.col("doc_id") % 10 == r)
            .select("doc_id", "text")
            .coalesce(1)
            .write.mode("append")
            .parquet(stream_in)
        )
    state = NearDupState(spark, base_dir, str(tmp_path / "delta"))
    neardup_state_maintenance_stream(
        state,
        read_doc_stream(spark, stream_in, max_files_per_trigger=1),
        checkpoint=str(tmp_path / "ckpt"),
    )
    pd.testing.assert_frame_equal(
        _norm(state.pairs().toPandas()), full, check_exact=True
    )


def test_embedding_state_two_deltas_equal_full_recompute(spark, sf_dir, tmp_path):
    """EmbeddingNearDupState: bootstrap + two chained GEMM-screened delta
    batches must reproduce the all-pairs cosine recompute bit-exactly."""
    from rabitq_spark.operators.dedup import (
        EmbeddingNearDupState,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = (
        embedding_neardup_pairs(emb, threshold=0.4)
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    base_dir = str(tmp_path / "ebase")
    EmbeddingNearDupState(spark, base_dir, threshold=0.4).bootstrap(
        emb.filter(F.col("vec_id") % 10 >= 2)
    )
    st = EmbeddingNearDupState(
        spark, base_dir, str(tmp_path / "edelta"), threshold=0.4
    )
    st.apply_delta(emb.filter(F.col("vec_id") % 10 == 0))
    st.apply_delta(emb.filter(F.col("vec_id") % 10 == 1))
    got = st.pairs().toPandas().sort_values(["id_a", "id_b"], ignore_index=True)
    pd.testing.assert_frame_equal(got, full, check_exact=True)


def test_embedding_delta_blocked_screen_equals_one_block(
    spark, sf_dir, tmp_path, monkeypatch
):
    """apply_delta's Δ×old GEMM screen is blocked by the same budget as
    embedding_neardup_pairs: patched down to a few matrix entries it runs
    one old row per block, and must land on the same pairs."""
    from rabitq_spark.functions import scratch
    from rabitq_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_dir = str(tmp_path / "bbase")
    dedup.EmbeddingNearDupState(spark, base_dir, threshold=0.4).bootstrap(
        emb.filter(F.col("vec_id") % 10 >= 2)
    )
    delta = emb.filter(F.col("vec_id") % 10 < 2)

    def delta_pairs(tag):
        st = dedup.EmbeddingNearDupState(
            spark, base_dir, str(tmp_path / tag), threshold=0.4
        )
        return _norm(st.apply_delta(delta).toPandas())

    want = delta_pairs("one_block")
    assert len(want) > 0
    monkeypatch.setattr(scratch, "BLOCK_ENTRIES", 7)
    assert delta.count() > 7  # so each block holds a single old row
    pd.testing.assert_frame_equal(delta_pairs("blocked"), want, check_exact=True)


def test_reattach_to_populated_delta_dir_sees_prior_deltas(spark, sf_dir, tmp_path):
    """Re-attaching a NEW state object to a delta_dir populated by a prior
    session must read those prior delta docs (round-5 ADVICE: _delta_written
    only tracked same-session appends, so a re-attach silently dropped the
    earlier delta layer from cross-pair scans)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = _norm(neardup_minhash_pairs(docs).toPandas())

    base_dir = str(tmp_path / "rbase")
    NearDupState(spark, base_dir).bootstrap(docs.filter(F.col("doc_id") % 10 >= 2))

    delta_dir = str(tmp_path / "rdelta")
    s1 = NearDupState(spark, base_dir, delta_dir)
    s1.apply_delta(docs.filter(F.col("doc_id") % 10 == 0))

    # NEW object, SAME delta_dir — simulates the next nightly session
    s2 = NearDupState(spark, base_dir, delta_dir)
    assert s2._delta_written == {"hashes", "keys", "pairs"}
    s2.apply_delta(docs.filter(F.col("doc_id") % 10 == 1))
    got = _norm(s2.pairs().toPandas())
    pd.testing.assert_frame_equal(got, full, check_exact=True)


def test_reattach_via_uri_scheme_uses_hadoop_fs(spark, sf_dir, tmp_path):
    """A delta_dir with a URI scheme (here file://, same code path as
    hdfs:// / s3a://) must seed _delta_written through the Hadoop
    FileSystem API (round-6 ADVICE: the os.listdir probe silently returned
    empty for scheme'd URIs, resurrecting the re-attach data-loss bug the
    seeding exists to prevent)."""
    from rabitq_spark.operators.dedup import _existing_delta_tables

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_dir = str(tmp_path / "ubase")
    NearDupState(spark, base_dir).bootstrap(docs.filter(F.col("doc_id") % 10 >= 2))

    delta_uri = f"file://{tmp_path}/udelta"
    s1 = NearDupState(spark, base_dir, delta_uri)
    s1.apply_delta(docs.filter(F.col("doc_id") % 10 == 0))

    s2 = NearDupState(spark, base_dir, delta_uri)
    assert s2._delta_written == {"hashes", "keys", "pairs"}
    # empty/missing URI dirs stay unseeded (no false positives)
    assert (
        _existing_delta_tables(
            spark, f"file://{tmp_path}/nowhere", ("hashes",)
        )
        == set()
    )


def test_embedding_delta_size_cap_raises(spark, sf_dir, tmp_path):
    """An oversized delta must fail cleanly BEFORE toPandas/broadcast
    (round-5 ADVICE: driver OOM path), with appends untouched."""
    import pytest

    from rabitq_spark.operators.dedup import EmbeddingNearDupState

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_dir = str(tmp_path / "cap_base")
    EmbeddingNearDupState(spark, base_dir, threshold=0.4).bootstrap(
        emb.filter(F.col("vec_id") % 2 == 0)
    )
    st = EmbeddingNearDupState(
        spark, base_dir, str(tmp_path / "cap_delta"),
        threshold=0.4, max_delta_rows=3,
    )
    before = st.pairs().count()
    with pytest.raises(ValueError, match="max_delta_rows"):
        st.apply_delta(emb.filter(F.col("vec_id") % 2 == 1))
    assert st._delta_written == set()      # nothing appended
    assert st.pairs().count() == before    # state unchanged
