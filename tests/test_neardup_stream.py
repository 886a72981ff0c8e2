"""Online near-dup admission (streaming/neardup_stream.py): streamed
verdicts equal batch connected-components on clique-shaped groups, and
the clique assumption itself is asserted for the test corpus."""

import tempfile

from pyspark.sql import functions as F


def _run_stream(spark, docs, n_slices=3, store=None):
    from rabitq_spark.streaming.neardup_stream import (
        neardup_maintenance_stream,
        read_doc_stream,
    )

    stream_in = tempfile.mkdtemp(prefix="ndtest_in_")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    sz = max(1, len(ids) // n_slices + 1)
    for i in range(n_slices):
        chunk = ids[i * sz : (i + 1) * sz]
        if not chunk:
            continue
        docs.filter(F.col("doc_id").isin(chunk)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)
    store = store or tempfile.mkdtemp(prefix="ndtest_store_")
    neardup_maintenance_stream(
        read_doc_stream(spark, stream_in, max_files_per_trigger=1),
        store,
        checkpoint=tempfile.mkdtemp(prefix="ndtest_ckpt_"),
    )
    return {
        r.doc_id: (r.canonical_id, r.is_dup)
        for r in spark.read.parquet(f"{store}/decisions").collect()
    }


def test_streamed_verdicts_equal_batch_groups(spark, sf_dir):
    from rabitq_spark.operators.dedup import neardup_minhash_pairs
    from rabitq_spark.operators.graph import neardup_groups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = _run_stream(spark, docs)
    pairs = neardup_minhash_pairs(docs)
    want = {
        r.doc_id: (r.group_id, r.is_dup)
        for r in neardup_groups(docs, pairs).collect()
    }
    assert got == want


def test_corpus_groups_are_cliques(spark, sf_dir):
    """The stream == batch equality relies on near-dup groups being
    cliques; assert that property so a future corpus change that breaks
    it fails HERE with an explanation, not as an opaque hash mismatch."""
    from collections import defaultdict

    from rabitq_spark.operators.dedup import neardup_minhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = [(r.id_a, r.id_b) for r in neardup_minhash_pairs(docs).collect()]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    pair_set = {frozenset(p) for p in pairs}
    seen = set()
    for n in list(adj):
        if n in seen:
            continue
        stack, comp = [n], set()
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        for a in comp:
            for b in comp:
                if a < b:
                    assert frozenset((a, b)) in pair_set, (
                        f"group {sorted(comp)} is not a clique: ({a},{b}) "
                        "missing — streamed greedy admission may diverge "
                        "from batch grouping on this corpus"
                    )


def test_stream_across_batches_flags_later_copy(spark, location):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (5, "totally different content with unique words here"),
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    got = _run_stream(spark, docs, n_slices=3, store=location("store"))
    assert got[0] == (0, 0)
    assert got[5] == (5, 0)
    assert got[10] == (0, 1)  # exact copy in a LATER batch -> dup of 0


def test_cdc_stream_equals_batch_index_ops(spark, sf_dir, tmp_path, location):
    """Streamed tombstone CDC must land exactly where the batch
    delete_from_index + upsert_into_index path lands."""
    from pyspark.sql import functions as F

    from rabitq_spark.config import RaBitQConfig
    from rabitq_spark.index import build_index, search
    from rabitq_spark.index.build import delete_from_index, upsert_into_index
    from rabitq_spark.streaming.index_stream import (
        load_index_with_tombstones,
        maintain_index_cdc_stream,
        read_cdc_vector_stream,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    boot = emb.filter("vec_id % 2 = 0").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cfg = RaBitQConfig(n_clusters=8, topk=5)
    model_path = location("model")
    build_index(boot, cfg).save(model_path)

    ups = emb.filter("vec_id % 6 = 0").select(
        F.lit("upsert").alias("op"), "vec_id",
        F.reverse("embedding").alias("embedding"),
    )
    dels = emb.filter("vec_id % 10 = 0").select(
        F.lit("delete").alias("op"), "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    stream_in = str(tmp_path / "in")
    ups.coalesce(1).write.mode("append").parquet(stream_in)
    dels.coalesce(1).write.mode("append").parquet(stream_in)
    maintain_index_cdc_stream(
        model_path,
        read_cdc_vector_stream(spark, stream_in, max_files_per_trigger=1),
        checkpoint=str(tmp_path / "ckpt"),
    )
    streamed = load_index_with_tombstones(spark, model_path)

    batch = build_index(boot, cfg)
    batch = upsert_into_index(
        batch, ups.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    )
    batch = delete_from_index(batch, dels.select("vec_id"))

    q = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    a = search(streamed, q, topk=5, nprobe=streamed.n_clusters, overfetch=10**6)
    b = search(batch, q, topk=5, nprobe=batch.n_clusters, overfetch=10**6)
    pa = a.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    pb = b.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    assert pa.equals(pb)
