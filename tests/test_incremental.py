"""Incremental index append + cosine-via-normalization equivalence."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import append_to_index, build_index, search
from rabitq_spark.operators.knn import knn_exact


def test_append_then_exhaustive_equals_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    half1 = base.filter("id % 2 = 0")
    half2 = base.filter("id % 2 = 1")
    cfg = RaBitQConfig(n_clusters=8, topk=5)
    model = build_index(half1, cfg)
    model = append_to_index(model, half2)
    assert model.index_df.count() == base.count()

    queries = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    exh = search(
        model, queries, topk=5, nprobe=model.n_clusters, overfetch=10**6
    ).toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(exh, exact, check_exact=True)


def test_cosine_equals_l2_on_normalized(spark, sf_dir):
    # cosine top-k == L2 top-k over unit-normalized vectors (how the IVF
    # path serves cosine); ranks must agree where no near-ties exist
    from rabitq_spark.queries import q_knn_cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cos = q_knn_cosine(spark, sf_dir).toPandas()

    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].values
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in range(3):
        qv = unit[ids == qid][0]
        d = ((unit - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:10]
        got = cos[cos.query_id == qid].sort_values("rank")["neighbor_id"].tolist()
        assert got == ids[order].tolist()


def test_streaming_index_maintenance_equals_bruteforce(spark, sf_dir, tmp_path):
    """Bootstrap half the base, stream the other half through foreachBatch
    maintenance, reload — exhaustive search over the reloaded model must
    equal brute force over the FULL table bit-for-bit (the streamed codes
    are commensurable with the bootstrapped ones: frozen transform)."""
    from rabitq_spark.index import RaBitQModel
    from rabitq_spark.streaming.index_stream import (
        maintain_index_stream,
        read_vector_stream,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    half = n // 2
    seed = emb.filter(F.col("vec_id") < half).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    path = str(tmp_path / "model")
    build_index(seed, RaBitQConfig(n_clusters=8, topk=5)).save(path)

    stream_in = str(tmp_path / "in")
    (
        emb.filter(F.col("vec_id") >= half)
        .select("vec_id", "embedding")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(stream_in)
    )
    maintain_index_stream(
        path,
        read_vector_stream(spark, stream_in, max_files_per_trigger=1),
        checkpoint=str(tmp_path / "ckpt"),
    )

    model = RaBitQModel.load(spark, path)
    assert model.index_df.count() == n
    queries = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    got = search(
        model, queries, topk=5, nprobe=model.n_clusters, overfetch=10**6
    ).toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(got, exact, check_exact=True)


def test_neardup_incremental_equals_full_recompute(spark):
    """Splitting the corpus into state + delta must reproduce the full
    banded recompute exactly, including pairs that straddle the split."""
    from rabitq_spark.operators.dedup import (
        neardup_incremental,
        neardup_minhash_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again today"
    )
    rows = []
    for i in range(40):
        # clusters of 4 near-identical docs; members land in both halves
        text = base + f" cluster {i // 4} variant"
        rows.append((i, text + (" extra" if i % 4 == 3 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.id_a, r.id_b)
        for r in neardup_minhash_pairs(docs, threshold=0.5).collect()
    }
    old = docs.filter("doc_id % 3 != 0")
    delta = docs.filter("doc_id % 3 = 0")
    old_pairs = neardup_minhash_pairs(old, threshold=0.5).localCheckpoint()
    inc = {
        (r.id_a, r.id_b)
        for r in neardup_incremental(
            old, delta, old_pairs, threshold=0.5
        ).collect()
    }
    assert full == inc and len(full) > 0
    # straddling pairs exist (one side divisible by 3, the other not)
    assert any((a % 3 == 0) != (b % 3 == 0) for a, b in full)


def test_stream_append_forgets_saved_row_count(spark, sf_dir, tmp_path, location):
    """A model saved with n_rows, then streamed into, reloads with n_rows
    None: the bootstrap count no longer holds, so nothing sizes a plan by
    it and load() reads no resident arrays."""
    from rabitq_spark.index import RaBitQModel
    from rabitq_spark.streaming.index_stream import (
        maintain_index_stream,
        read_vector_stream,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seed = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    path = location("model")
    build_index(seed, RaBitQConfig(n_clusters=4, topk=5), n_rows=100).save(path)
    before = RaBitQModel.load(spark, path)
    assert before.n_rows == 100 and before.resident is not None

    stream_in = str(tmp_path / "in")
    emb.filter(F.col("vec_id").between(100, 149)).select(
        "vec_id", "embedding"
    ).write.parquet(stream_in)
    maintain_index_stream(
        path, read_vector_stream(spark, stream_in), checkpoint=str(tmp_path / "ckpt")
    )
    after = RaBitQModel.load(spark, path)
    assert after.n_rows is None and after.resident is None
    assert after.index_df.count() == 150
