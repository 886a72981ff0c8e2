"""Streaming near-duplicate maintenance: the crawler-pipeline shape where
documents arrive continuously and each one must be admitted or rejected
against everything accepted SO FAR.

State is a pair of append-only Parquet tables under `store_path`:
  keys/       (doc_id, b, k)       — banded minhash keys of ACCEPTED docs
  hashes/     (doc_id, hs)         — their shingle-hash sets (for verify)
  decisions/  (doc_id, canonical_id, is_dup)  — the verdict log

Each micro-batch (foreachBatch) runs the same stages as
operators/dedup.neardup_minhash_pairs:
  1. one cached MinHash table (shingle hashes + band keys) for the batch,
  2. candidates = batch keys ⨝ store keys on (b, k) PLUS the banded
     in-batch self-join (id_a < id_b) — never all-pairs,
  3. exact Jaccard verify on candidates; canonical_id = least(self, every
     verified store match, every verified smaller in-batch match) — a
     larger in-batch match never lowers it,
  4. accepted rows (canonical == self) append their keys+hashes to the
     store; every row appends its decision.

Near-dup groups in real corpora are cliques (copies of one underlying
document all match each other); under that property the greedy admit
order is irrelevant and the streamed verdicts EQUAL the batch
connected-components output (doc_id, group_id, is_dup) — which is exactly
how the registered query is oracle-checked against the recursive-CTE
groups SQL. For non-clique chains (A~B~C, A!~C) streaming keeps C where
batch grouping drops it — inherent to any online dedup, documented here.

Scale: per batch, two keyed shuffles (band-key join, verify join) over
batch-sized inputs; the store is read via partition-pruned-able Parquet
listings and only ever APPENDED — state per accepted doc is n_bands key
rows + one hash-set row, independent of corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def read_doc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """File-source stream of (doc_id, text) parquet rows — the columns
    neardup_maintenance_stream reads."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def neardup_maintenance_stream(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    shingle_words: int = 3,
    n_bands: int = 8,
    threshold: float = 0.8,
    timeout_sec: int = 300,
):
    """Run the admission stream to completion (availableNow). Read
    `{store_path}/decisions` afterwards for the verdict log."""
    from rabitq_spark.operators.dedup import (
        _cross_candidates,
        _explode_keys,
        _jaccard_verify,
        _minhash_table,
        _self_candidates,
    )

    spark = doc_stream.sparkSession
    keys_dir = os.path.join(store_path, "keys")
    hashes_dir = os.path.join(store_path, "hashes")
    decisions_dir = os.path.join(store_path, "decisions")

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        # every cache is consumed before the handler returns, so the
        # batch's scope is drained here rather than left to release_caches()
        scope: list = []
        try:
            batch = batch_df.localCheckpoint(eager=True)
            table = _minhash_table(
                batch, "doc_id", "text", shingle_words, n_bands, scope
            )
            hashed = table.select("doc_id", "hs")
            keys = _explode_keys(table)
            matches = _jaccard_verify(
                _self_candidates(keys), hashed, hashed, threshold, spread=False
            ).select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("match_id"))
            if os.path.isdir(keys_dir):
                store_matches = _jaccard_verify(
                    _cross_candidates(keys, spark.read.parquet(keys_dir)),
                    hashed,
                    spark.read.parquet(hashes_dir),
                    threshold,
                    spread=False,
                ).select(
                    F.col("id_a").alias("doc_id"), F.col("id_b").alias("match_id")
                )
                matches = matches.unionByName(store_matches)
            min_match = matches.groupBy("doc_id").agg(
                F.min("match_id").alias("min_match")
            )
            decisions = (
                batch.select("doc_id")
                .join(min_match, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("doc_id"), F.coalesce("min_match", F.col("doc_id"))
                    ).alias("canonical_id"),
                )
                .withColumn(
                    "is_dup",
                    (F.col("canonical_id") != F.col("doc_id")).cast("int"),
                )
                .localCheckpoint(eager=True)
            )
            accepted = decisions.filter(F.col("is_dup") == 0).select("doc_id")
            keys.join(accepted, "doc_id").write.mode("append").parquet(keys_dir)
            hashed.join(accepted, "doc_id").write.mode("append").parquet(hashes_dir)
            decisions.write.mode("append").parquet(decisions_dir)
        finally:
            for df in scope:
                df.unpersist(False)

    q = (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming near-dup maintenance did not finish within "
            f"{timeout_sec}s; the store at {store_path} is incomplete"
        )
    return q


def neardup_state_maintenance_stream(
    state,
    doc_stream: DataFrame,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 300,
):
    """Structured-Streaming maintenance of a materialized NearDupState
    (operators/dedup.py): every micro-batch is one `apply_delta`, so the
    state's pair set after the stream drains equals the batch recompute
    over bootstrap ∪ streamed docs — bit-exactly, for ANY micro-batch
    partitioning of the delta (the split identity
    pairs(old ∪ Δ) = pairs(old) ∪ pairs(Δ,Δ) ∪ pairs(Δ,old) is associative
    over batches, which is what the `neardup_state_stream` oracle query
    checks). This is the nightly-crawl shape run continuously: per batch,
    Δ-proportional hashing + two broadcast probes of the on-disk state,
    never a corpus shuffle.
    """
    q = (
        doc_stream.writeStream.foreachBatch(
            lambda batch_df, _bid: state.apply_delta(batch_df, id_col, text_col)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # same loud-failure contract as maintain_index_stream: a partial
        # drain would leave the state silently missing streamed documents
        q.stop()
        raise TimeoutError(
            f"neardup state maintenance did not finish within {timeout_sec}s"
        )
    return q


def embedding_state_maintenance_stream(
    state,
    vec_stream: DataFrame,
    checkpoint: str,
    timeout_sec: int = 300,
):
    """Streaming maintenance of an EmbeddingNearDupState (operators/
    dedup.py): every micro-batch of vectors is one GEMM-screened
    `apply_delta` — the semantic-dedup twin of
    neardup_state_maintenance_stream, with the same associativity
    guarantee: any micro-batch partitioning of the delta drains to the
    full-recompute pair set (oracle query `embedding_state_stream`)."""
    q = (
        vec_stream.writeStream.foreachBatch(
            lambda batch_df, _bid: state.apply_delta(batch_df)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"embedding state maintenance did not finish within {timeout_sec}s"
        )
    return q
