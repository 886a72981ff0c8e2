"""Dedup + text-analysis operators: semantic unit tests on tiny literal
inputs (the oracle harness covers engine-vs-DuckDB equivalence; these cover
intent)."""

import pytest
from pyspark.sql import functions as F

from rabitq_spark.functions.text import (
    jaccard,
    lang_guess,
    quality_score,
    simhash60,
    token_count,
    word_shingles,
)
from rabitq_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    neardup_minhash_pairs,
    simhash_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_word_shingles_and_jaccard(spark):
    df = _docs(spark, ["a b c d", "a b c e", "x"])
    out = df.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    by_id = {r.doc_id: set(r.sh) for r in out}
    assert by_id[0] == {"a b c", "b c d"}
    assert by_id[1] == {"a b c", "b c e"}
    assert by_id[2] == set()  # shorter than n -> empty, no crash

    j = (
        spark.createDataFrame([(["a", "b"], ["b", "c"])], "x array<string>, y array<string>")
        .select(jaccard("x", "y").alias("j"))
        .first()
        .j
    )
    assert j == pytest.approx(1 / 3)


def test_dedup_exact_canonicalizes_whitespace_and_case(spark):
    df = _docs(spark, ["Hello  World", "hello world", "other text"])
    out = {r.doc_id: r for r in dedup_exact(df).collect()}
    assert out[1].canonical_id == 0 and out[1].is_dup == 1
    assert out[0].canonical_id == 0 and out[0].is_dup == 0
    assert out[2].group_size == 1


def test_neardup_minhash_finds_near_but_not_far(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    near_b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    far = "completely different words having nothing in common with others here"
    df = _docs(spark, [near_a, near_b, far])
    pairs = neardup_minhash_pairs(df, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].jaccard > 0.5


def test_simhash_banding_equals_bruteforce(spark, sf_dir):
    # pigeonhole guarantee: banded candidate generation must reproduce the
    # naive all-pairs result exactly
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    sims = docs.select("doc_id", simhash60("text").alias("s"))
    a, b = sims.alias("a"), sims.alias("b")
    naive = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.s").bitwiseXOR(F.col("b.s"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == naive


def test_embedding_neardup_symmetric_threshold(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.01]),   # nearly parallel to 0
        (2, [0.0, 1.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = embedding_neardup_pairs(df, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


def test_neardup_ngram_robust_to_char_edits(spark):
    """Char n-gram Jaccard catches a one-letter spelling variant that
    3-word shingles would score at ~0 for short docs."""
    from rabitq_spark.operators.dedup import neardup_ngram_pairs

    a = "internationalization conference proceedings archive"
    b = "internationalisation conference proceedings archive"  # s/z variant
    far = "entirely unrelated subject matter discussion"
    df = _docs(spark, [a, b, far])
    pairs = neardup_ngram_pairs(df, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].jaccard > 0.5


def test_winnow_guarantee_and_compression(spark):
    """Winnowing guarantee: two docs sharing a token run of length
    window + kgram − 1 (= 6 here) select at least one common fingerprint;
    and selection keeps far fewer than all k-gram hashes."""
    from rabitq_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    df = _docs(
        spark,
        [
            f"{shared} one two three four five six seven eight nine ten",
            f"completely different prefix tokens here {shared}",
            "no overlap with anything else at all whatsoever",
        ],
    )
    fps = winnow_fingerprints(df, kgram_words=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    # compression: doc 0 has 17 tokens -> 15 kgrams; winnowing keeps fewer
    assert len(by_doc[0]) < 15


def test_bpe_token_count_pieces(spark):
    from rabitq_spark.functions.text import bpe_token_count, token_count

    df = _docs(spark, ["hello world 42!"])
    row = df.select(
        token_count("text").alias("ws"), bpe_token_count("text").alias("bpe")
    ).first()
    assert row.ws == 3
    # pieces: hello | world | 4 | 2 | !
    assert row.bpe == 5


def test_simhash_includes_zero_token_docs(spark):
    """Zero-token documents carry sim = 0 (like simhash60 and the oracle's
    all-pairs scan), so two empty docs are a hamming-0 pair — plain explode
    used to drop them from the table entirely."""
    from rabitq_spark.functions.text import simhash_table

    df = _docs(spark, ["", "   ", "some real text content here"])
    sims = {r.doc_id: r.sim for r in simhash_table(df, "doc_id", "text").collect()}
    assert sims[0] == 0 and sims[1] == 0
    assert len(sims) == 3
    pairs = {(p.id_a, p.id_b) for p in simhash_pairs(df, max_hamming=3).collect()}
    assert (0, 1) in pairs


def test_dedup_cache_scope_is_bounded(spark, sf_dir):
    """Repeated minhash calls must not accumulate cached intermediates in
    executor storage: each invocation retires the previous one's caches."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    jsc = spark.sparkContext._jsc
    neardup_minhash_pairs(docs).count()
    n1 = jsc.getPersistentRDDs().size()
    neardup_minhash_pairs(docs).count()
    n2 = jsc.getPersistentRDDs().size()
    assert n2 <= n1


def test_embedding_neardup_blocked_path_bounded_driver_collect(
    spark, sf_dir, monkeypatch
):
    """Above broadcast_max_rows the operator dispatches to the IVF-blocked
    plan, which brings the table to the driver only as search()'s bounded
    stages-1-4 batch: for a table past the driver cap (patched to 10 query
    rows' worth), plan construction makes ONE query collect, of at most
    cap + 1 rows, and then takes the executor path."""
    import importlib

    search_mod = importlib.import_module("rabitq_spark.index.search")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fetched = []
    real_collect = search_mod.collect_queries

    def spy(queries, id_col, vec_col, row_bytes, max_bytes):
        got = real_collect(queries, id_col, vec_col, row_bytes, max_bytes)
        fetched.append((max_bytes // row_bytes, got))
        return got

    monkeypatch.setattr(search_mod, "collect_queries", spy)
    # a query's driver copies at dim 64 and the default nprobe 12: 12
    # probe rows of 64 B outweigh its 512 B float64 row
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 10 * 12 * 64)
    prepared = []
    real_prepare = search_mod._prepare_probes
    monkeypatch.setattr(
        search_mod,
        "_prepare_probes",
        lambda *a: prepared.append(a) or real_prepare(*a),
    )
    # row_count passed explicitly (fake "huge table") so dispatch picks the
    # blocked plan without a count job
    df = embedding_neardup_pairs(
        emb, threshold=0.4, broadcast_max_rows=1000, row_count=10_000_000
    )
    assert "cosine" in df.columns
    assert fetched == [(10, None)] and len(prepared) == 1


def test_embedding_neardup_blocked_equals_broadcast(spark, sf_dir):
    """With exhaustive search settings and k_per_row ≥ |table|, the blocked
    path's candidate stage is complete, so its output must equal the exact
    broadcast-GEMM path bit-for-bit."""
    import pandas as pd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    exact = (
        embedding_neardup_pairs(emb, threshold=0.4)
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    blocked = (
        embedding_neardup_pairs(
            emb,
            threshold=0.4,
            broadcast_max_rows=1,      # force the blocked path
            row_count=n,
            k_per_row=n,               # candidate stage complete
            nprobe=10**6,              # clamped to n_clusters → exhaustive
            overfetch=10**6,
        )
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(blocked, exact, check_exact=True)


def test_embedding_neardup_blocked_between_caps(spark, sf_dir, monkeypatch):
    """A blocked table whose query matrix passes QUERY_MATRIX_MAX_BYTES
    (patched to 100 rows) but whose probe table and query block fit the
    driver cap runs stages 1-4 on the driver, with no `prep` stage, and
    returns the executor path's pairs (the driver cap patched to 0)."""
    import importlib

    import pandas as pd

    from rabitq_spark.index import vecstore

    search_mod = importlib.import_module("rabitq_spark.index.search")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", 100 * 64 * 8)

    def pairs():
        return (
            embedding_neardup_pairs(
                emb, threshold=0.4, broadcast_max_rows=1, row_count=n, k_per_row=5
            )
            .toPandas()
            .sort_values(["id_a", "id_b"], ignore_index=True)
        )

    with monkeypatch.context() as m:
        m.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 0)
        executor = pairs()

    def no_prep(*args):
        raise AssertionError("a batch within the driver cap ran the prep stage")

    monkeypatch.setattr(search_mod, "_prepare_probes", no_prep)
    between = pairs()
    assert len(between) > 0
    pd.testing.assert_frame_equal(between, executor, check_exact=True)


def test_similarity_join_blocked_exhaustive_equals_single_block(spark, sf_dir):
    """Chunking the exhaustive left side into hash blocks must not change the
    result: per-query top-k is independent across queries."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rabitq_spark.operators.simjoin import similarity_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    single = (
        similarity_join(left, left, k=3, exhaustive=True)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    blocked = (
        similarity_join(left, left, k=3, exhaustive=True, max_query_block=16)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(blocked, single, check_exact=True)


def test_connected_components_chain_triangle_isolated(spark):
    """Min-label propagation must produce exact components: a 5-node chain
    (diameter > 1 round — exercises iteration), a triangle, an isolated
    node."""
    from rabitq_spark.operators.graph import connected_components, neardup_groups

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a bigint, id_b bigint",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 99]], "doc_id bigint"
    )
    comp = {
        r.node: r.comp
        for r in connected_components(edges, nodes, node="doc_id").collect()
    }
    assert all(comp[i] == 1 for i in [1, 2, 3, 4, 5])
    assert all(comp[i] == 10 for i in [10, 11, 12])
    assert comp[99] == 99

    groups = {r.doc_id: r for r in neardup_groups(nodes, edges).collect()}
    assert groups[5].group_id == 1 and groups[5].is_dup == 1
    assert groups[1].is_dup == 0 and groups[1].group_size == 5
    assert groups[99].group_size == 1


def test_quality_and_lang_are_deterministic(spark):
    df = _docs(spark, ["the cat sat on the mat", "der hund und die katze nicht"])
    rows = df.select(
        "doc_id",
        token_count("text").alias("n"),
        quality_score("text").alias("q"),
        lang_guess("text").alias("lang"),
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[0].n == 6 and by_id[0].lang == "en"
    assert by_id[1].lang == "de"
    assert 0.0 <= by_id[0].q <= 1.0


def test_embedding_neardup_byte_budget_dispatch(spark, monkeypatch):
    """Dispatch is a BYTE budget, not a row count (round-2 verdict): at
    dim=1024, a table of only 64 rows must take the blocked path once
    rows x dim x 8 exceeds broadcast_max_bytes — row counts this small would
    have been collected under the old 1M-row default."""
    import numpy as np

    import rabitq_spark.operators.dedup as dedup_mod

    n, dim = 64, 1024
    rng = np.random.default_rng(0)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(dim).astype("float32").tolist()) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    called = []

    def fake_blocked(*args, **kwargs):
        called.append(True)
        return emb.selectExpr(
            "vec_id AS id_a", "vec_id AS id_b", "CAST(1.0 AS DOUBLE) AS cosine"
        ).limit(0)

    monkeypatch.setattr(dedup_mod, "_embedding_neardup_blocked", fake_blocked)
    # 64 rows x 1024 dim x 8 B = 512 KiB > 256 KiB budget -> blocked path
    dedup_mod.embedding_neardup_pairs(
        emb, threshold=0.9, broadcast_max_bytes=256 << 10
    )
    assert called, "byte budget exceeded but blocked path not taken"
    # the default 64 MiB budget keeps the same table on the exact GEMM path
    called.clear()
    df = dedup_mod.embedding_neardup_pairs(emb, threshold=0.9)
    assert not called
    assert "cosine" in df.columns


def test_release_caches_drains_text_generations(spark, sf_dir):
    """After the terminal action, release_caches() must leave no dedup cache
    generation pinned in executor storage (round-2 verdict: the final
    generation used to stay until another dedup call happened)."""
    from rabitq_spark.operators import dedup
    from rabitq_spark.operators.dedup import (
        neardup_ngram_pairs,
        release_caches,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        # RDD-id SET, not size: the ContextCleaner concurrently retires other
        # tests' checkpoint RDDs, so absolute counts race
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    before = persistent_ids()
    neardup_minhash_pairs(docs).count()
    neardup_ngram_pairs(docs).count()
    simhash_pairs(docs).count()
    winnow_fingerprints(docs).count()
    created = persistent_ids() - before
    assert created  # generations live
    release_caches()
    assert not dedup._SCOPES
    assert not (persistent_ids() & created)


def test_cross_join_and_state_drop_word_hash_cache(spark, sf_dir, tmp_path):
    """No MinHash caller ever caches the (doc_id, h) word-hash arrays
    (~3 GB at 10M docs): the only live caches are one MinHash table
    (doc_id, hs, keys) per input side — in the self-join, the cross-join
    and NearDupState.bootstrap alike — and release_caches() drains them."""
    from rabitq_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    jsc = spark.sparkContext._jsc
    table_cols = ["doc_id", "hs", "keys"]

    def persistent_ids():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    def check_caches(family, sides, run):
        # every family hashes the same docs, so each drains before the next
        # (equal plans would share one cache entry)
        dedup.release_caches()
        before = persistent_ids()
        run()
        created = persistent_ids() - before
        scope = dedup._SCOPES[family]
        assert [df.columns for df in scope] == [table_cols] * sides
        assert all(df.storageLevel.useMemory for df in scope)
        assert len(created) == sides
        dedup.release_caches()
        assert not (persistent_ids() & created)

    check_caches(
        "minhash", 1, lambda: dedup.neardup_minhash_pairs(docs).count()
    )
    check_caches(
        "minhash_cross",
        2,
        lambda: dedup.neardup_minhash_pairs_cross(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ).count(),
    )
    check_caches(
        "neardup_state",
        1,
        lambda: dedup.NearDupState(spark, str(tmp_path / "base")).bootstrap(docs),
    )


def test_retiring_one_family_keeps_its_shared_table_cached(
    spark, sf_dir, tmp_path
):
    """Two families hashing the same docs cache equal plans, which share
    one cache entry. Retiring one family's generation leaves the entry
    cached while the other family still holds it; release_caches() then
    drains it."""
    from rabitq_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    dedup.release_caches()
    dedup.neardup_minhash_pairs(docs).count()
    dedup.NearDupState(spark, str(tmp_path / "base")).bootstrap(docs)
    shared = dedup._SCOPES["neardup_state"][0]
    first = dedup._SCOPES["minhash"][0]
    assert first._jdf.queryExecution().analyzed().sameResult(
        shared._jdf.queryExecution().analyzed()
    )
    assert shared.storageLevel.useMemory
    dedup._begin_scope("minhash")  # the self-join family's next call
    assert shared.storageLevel.useMemory
    dedup.release_caches()
    assert not shared.storageLevel.useMemory


def test_minhash_call_is_lazy_and_hashes_in_one_arrow_kernel(spark):
    """neardup_minhash_pairs runs no Spark job until its result is
    consumed, and the executed plan hashes, shingles and bands in one
    Python MapInArrow node — no md5 expression is left in the JVM plan."""
    import re

    docs = _docs(
        spark, [f"w{i % 7} a b c d e f g w{i % 5}" for i in range(50)]
    ).cache()
    docs.count()
    sc = spark.sparkContext
    sc.setJobGroup("minhash_call", "minhash_call")
    try:
        pairs = neardup_minhash_pairs(docs, threshold=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup("minhash_call")
    assert pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the cached table's plan is printed once per scan of it; the node
    # (same expression ids every time) is one
    assert len(set(re.findall(r"MapInArrow \w+\(.*", plan))) == 1
    assert "md5" not in plan.lower()
    docs.unpersist()


def test_corpus_verify_joins_never_broadcast_hash_sets(spark, tmp_path):
    """Until its cache fills, the MinHash table is sized by default column
    widths, which count a hash-set array as one element. With the
    broadcast threshold above that estimate and below the hash sets' real
    size, both verify joins still sort-merge: no hash-set table is
    broadcast."""
    import re

    from rabitq_spark.operators import dedup

    texts = [" ".join(f"w{i}_{j}" for j in range(300)) for i in range(200)]
    path = str(tmp_path / "docs")
    _docs(spark, texts + texts[:5]).write.parquet(path)
    docs = spark.read.parquet(path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        pairs = neardup_minhash_pairs(docs)
        hashed = dedup._SCOPES["minhash"][0].select("doc_id", "hs")
        stats = hashed._jdf.queryExecution().optimizedPlan().stats()
        threshold = 2 * int(stats.sizeInBytes())
        spark.conf.set(key, str(threshold))
        assert len(pairs.collect()) == 5  # runs the plan read below
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        real = 8 * hashed.selectExpr("sum(size(hs))").first()[0]
    finally:
        spark.conf.set(key, old)
        dedup.release_caches()
    assert real > threshold
    for side in ("id_a", "id_b"):
        assert re.search(rf"SortMergeJoin \[{side}#", plan)
        assert not re.search(rf"BroadcastHashJoin \[{side}#", plan)


def test_release_caches_drains_blocked_embedding_index(spark, sf_dir):
    """The blocked path's index cache is scope-registered: release_caches()
    (or the next invocation) unpersists it — round-2 verdict: it leaked."""
    from rabitq_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    dedup.embedding_neardup_pairs(
        emb, threshold=0.4, broadcast_max_rows=1, row_count=50, k_per_row=5
    ).count()
    scope = dedup._SCOPES.get("embedding_blocked")
    assert scope and scope[0].storageLevel.useMemory
    dedup.release_caches()
    assert not dedup._SCOPES
    assert not scope[0].storageLevel.useMemory


def test_connected_components_raises_when_unconverged(spark):
    """A component with diameter > max_iter must raise, not silently return
    wrong labels (advisor, round 2): min-label propagation moves the label
    one hop per round, so a 10-edge chain cannot converge in 2 rounds."""
    from rabitq_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(11)], "doc_id bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=2)

