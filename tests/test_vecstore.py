"""Vec-store point-read rerank (index/vecstore.py): gather round-trip on
gappy ids, search()/search_adaptive() with a store bit-identical to the
base-join plan, candidate-bound rerank_base_rows metric, save/load carries
the store, missing-id loudness, the unpadded-fold bit-exactness claim
(the Spark analogue of the disk variant's candidate point reads,
crates/disk/src/cache.rs:115-145), and exact_rerank's four cells against
brute force."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import RaBitQModel, build_index, search
from rabitq_spark.index.vecstore import (
    VecStore,
    attach_vec_store,
    build_vec_store,
    exact_rerank,
    exact_topk,
)
from rabitq_spark.metrics import SearchMetrics

K = 5
NQ = 8


@pytest.fixture(scope="module")
def gappy_base(spark):
    # sparse, non-contiguous ids across shard boundaries; dim 100 forces
    # padding to 128 so the unpadded-prefix fold claim is exercised
    rng = np.random.default_rng(11)
    ids = np.sort(rng.choice(100_000, size=600, replace=False)).astype(np.int64)
    vecs = rng.standard_normal((600, 100)).astype(np.float32)
    pdf = pd.DataFrame({"id": ids, "vec": list(vecs)})
    return (
        spark.createDataFrame(pdf, "id bigint, vec array<float>"),
        ids,
        vecs,
    )


@pytest.fixture(scope="module")
def stored_model(spark, gappy_base, tmp_path_factory):
    base, ids, vecs = gappy_base
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8)
    model = build_index(base, cfg, n_rows=len(ids))
    model.index_df = model.index_df.cache()
    store_dir = str(tmp_path_factory.mktemp("vecstore"))
    build_vec_store(
        model.base_df, store_dir, dim=model.dim, n_shards=5
    )
    model.vec_store = VecStore.open(store_dir)
    return model


def _queries(spark, gappy_base):
    base, ids, vecs = gappy_base
    pdf = pd.DataFrame(
        {"query_id": ids[:NQ], "qvec": list(vecs[:NQ])}
    )
    return spark.createDataFrame(pdf, "query_id bigint, qvec array<float>")


def test_gather_roundtrip_gappy_ids(spark, gappy_base, stored_model):
    _, ids, vecs = gappy_base
    store = stored_model.vec_store
    pick = np.concatenate([ids[::7], ids[-3:], ids[:1]])  # shuffled, repeated
    got = store.gather(pick)
    want = vecs[np.searchsorted(ids, pick)]
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got, want)


def test_gather_missing_id_raises(stored_model):
    with pytest.raises(KeyError):
        stored_model.vec_store.gather(np.array([123_456_789], dtype=np.int64))


def test_store_search_bitexact_vs_join(spark, gappy_base, stored_model):
    queries = _queries(spark, gappy_base)
    # exhaustive AND approximate configs, jvm and Arrow kernels
    for kwargs in (
        dict(nprobe=stored_model.n_clusters, overfetch=10**6),
        dict(),
        dict(impl="arrow"),
    ):
        met = SearchMetrics()
        with_store = (
            search(stored_model, queries, topk=K, metrics=met, **kwargs)
            .toPandas()
            .sort_values(["query_id", "rank"], ignore_index=True)
        )
        if kwargs.get("impl") == "arrow":
            assert met.kernel == "arrow", met.kernel_reason
        stored_model.vec_store, saved = None, stored_model.vec_store
        try:
            join_plan = (
                search(stored_model, queries, topk=K, **kwargs)
                .toPandas()
                .sort_values(["query_id", "rank"], ignore_index=True)
            )
        finally:
            stored_model.vec_store = saved
        pd.testing.assert_frame_equal(with_store, join_plan, check_exact=True)


def test_adaptive_with_store_bitexact(spark, gappy_base, stored_model):
    from rabitq_spark.index.adaptive import search_adaptive
    from rabitq_spark.operators.knn import knn_exact

    base, _, _ = gappy_base
    queries = _queries(spark, gappy_base)
    got = (
        search_adaptive(stored_model, queries, topk=K, overfetch=10**6)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    want = (
        knn_exact(queries, base, K)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _shortlist_ids(model, queries) -> pd.Series:
    """The orig_ids of search()'s default top-R shortlist for `queries`,
    built by the executor tail's window plan (every kernel shortlists the
    same rows)."""
    import importlib

    search_mod = importlib.import_module("rabitq_spark.index.search")
    nprobe = model.config.nprobe
    probes, block, counts, _ = search_mod._prepare_batch(
        model, queries, "query_id", "qvec", nprobe
    )
    r = K * search_mod.auto_overfetch(model, nprobe, K)
    shortlist = search_mod._shortlist(
        model, "jvm", r, probes=probes, block=block, clusters=counts
    )
    return shortlist.toPandas()["orig_id"]


def test_rerank_rows_candidate_bound(spark, gappy_base, stored_model):
    queries = _queries(spark, gappy_base)
    m = SearchMetrics()
    res = search(stored_model, queries, topk=K, metrics=m).toPandas()
    assert len(res) > 0
    # store plan: each distinct shortlisted id is read once, never ~base
    ids = _shortlist_ids(stored_model, queries)
    assert m.precise_count == len(ids)
    assert m.rerank_base_rows == ids.nunique()
    assert m.rerank_base_rows < 600

    m2 = SearchMetrics()
    stored_model.vec_store, saved = None, stored_model.vec_store
    try:
        search(stored_model, queries, topk=K, metrics=m2).toPandas()
    finally:
        stored_model.vec_store = saved
    # join plan: the scan is O(base) regardless of candidate count
    assert m2.rerank_base_rows == 600


def test_save_load_carries_store(spark, gappy_base, stored_model, tmp_path):
    queries = _queries(spark, gappy_base)
    path = str(tmp_path / "model")
    stored_model.save(path)
    loaded = RaBitQModel.load(spark, path)
    assert loaded.vec_store is not None
    got = (
        search(loaded, queries, topk=K, nprobe=loaded.n_clusters, overfetch=10**6)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    want = (
        search(
            stored_model, queries, topk=K,
            nprobe=stored_model.n_clusters, overfetch=10**6,
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_save_load_model_uri_roundtrip(spark, gappy_base, stored_model, tmp_path):
    # round-11: model persistence onto object storage — save() and load()
    # take the same URI; the numpy/JSON sidecars go through pyarrow.fs and
    # the result must search bit-identically to the posix-saved model
    queries = _queries(spark, gappy_base)
    uri = "file://" + str(tmp_path / "uri_model")
    stored_model.save(uri)
    loaded = RaBitQModel.load(spark, uri)
    assert loaded.vec_store is not None
    assert loaded.vec_store.dir.startswith("file://")  # URI gather branch
    got = (
        search(loaded, queries, topk=K, nprobe=loaded.n_clusters, overfetch=10**6)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    want = (
        search(
            stored_model, queries, topk=K,
            nprobe=stored_model.n_clusters, overfetch=10**6,
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # overwrite-save of a store-less model over the same URI must remove
    # the stale sidecar (load would otherwise auto-attach the old store)
    import copy

    bare = copy.copy(stored_model)
    bare.vec_store = None
    bare.save(uri, store_min_rows=10**9)
    from rabitq_spark.index.vecstore import VecStore

    assert not VecStore.exists(uri + "/vecstore")
    assert RaBitQModel.load(spark, uri).vec_store is None


def test_unpadded_fold_bit_equals_padded():
    # the store keeps the unpadded prefix; the claim it rests on: folding
    # (x-y)^2 over the first dim terms == folding over dim_pad terms when
    # the tail is zeros on both sides (each pad term adds exactly +0.0)
    rng = np.random.default_rng(3)
    q = np.zeros(128, np.float32)
    v = np.zeros(128, np.float32)
    q[:100] = rng.standard_normal(100).astype(np.float32)
    v[:100] = rng.standard_normal(100).astype(np.float32)

    def fold(a, b, n):
        acc = np.float64(0.0)
        for j in range(n):
            d = np.float64(a[j]) - np.float64(b[j])
            acc = acc + d * d
        return acc

    assert fold(q, v, 100) == fold(q, v, 128)


def test_attach_builds_and_reuses(spark, gappy_base, tmp_path):
    base, ids, _ = gappy_base
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8)
    model = build_index(base, cfg, n_rows=len(ids))
    d = str(tmp_path / "store")
    s1 = attach_vec_store(model, d)
    assert model.vec_store is s1 and s1.n_rows == len(ids)
    mtimes = {
        f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)
    }
    s2 = attach_vec_store(model, d)  # reuse: no rebuild, no file touch
    assert s2.n_rows == len(ids)
    assert mtimes == {
        f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)
    }


def test_pq_family_store_rerank_bitexact(spark, gappy_base, tmp_path):
    """vec_store wired into the PQ / IVF-PQ / SQ8 reranks must be
    frame-identical to their __bvec-join plans (same fold, same trim)."""
    from rabitq_spark.index.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
        pq_encode,
        pq_search,
        pq_train,
    )
    from rabitq_spark.index.sq8 import sq8_search, sq8_train

    base, ids, vecs = gappy_base
    store = build_vec_store(
        base, str(tmp_path / "pqstore"), dim=100, id_col="id", vec_col="vec",
        n_shards=4,
    )
    queries = _queries(spark, gappy_base)

    cb = pq_train(base, m=4, ksub=8, max_sample_rows=600)
    coded = pq_encode(base, cb).cache()
    a = pq_search(queries, base, K, cb, shortlist=32, coded_base=coded)
    b = pq_search(
        queries, base, K, cb, shortlist=32, coded_base=coded, vec_store=store
    )
    pd.testing.assert_frame_equal(
        b.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        a.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        check_exact=True,
    )

    coarse, cb2 = ivfpq_train(base, n_clusters=8, m=4, ksub=8, max_sample_rows=600)
    coded2 = ivfpq_encode(base, coarse, cb2).cache()
    a = ivfpq_search(queries, coded2, K, coarse, cb2, nprobe=4, shortlist=32)
    b = ivfpq_search(
        queries, coded2, K, coarse, cb2, nprobe=4, shortlist=32, vec_store=store
    )
    pd.testing.assert_frame_equal(
        b.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        a.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        check_exact=True,
    )

    lo, hi = sq8_train(base)
    a = sq8_search(queries, base, K, lo, hi, shortlist=32)
    b = sq8_search(queries, base, K, lo, hi, shortlist=32, vec_store=store)
    pd.testing.assert_frame_equal(
        b.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        a.toPandas().sort_values(["query_id", "rank"], ignore_index=True),
        check_exact=True,
    )


def test_rebuild_same_dir_serves_fresh_rows(spark, gappy_base, tmp_path):
    # Spark reuses Python worker processes, so the memmap cache must key on
    # file identity, not path: a store REBUILT into the same directory with
    # different vectors has to serve the NEW rows from the same process.
    base, ids, vecs = gappy_base
    store_dir = str(tmp_path / "rebuilt")
    s1 = build_vec_store(base, store_dir, dim=100, n_shards=3, id_col="id")
    got1 = s1.gather(ids[:4])  # populate this process's memmap cache
    np.testing.assert_array_equal(got1, vecs[:4])

    shifted = base.withColumn(
        "vec", F.transform("vec", lambda x: x + F.lit(1.0).cast("float"))
    )
    s2 = build_vec_store(shifted, store_dir, dim=100, n_shards=3, id_col="id")
    got2 = s2.gather(ids[:4])
    np.testing.assert_array_equal(got2, vecs[:4] + np.float32(1.0))


def test_overwrite_save_removes_stale_sidecar(spark, gappy_base, stored_model, tmp_path):
    # save a store-carrying model, then overwrite the SAME path with a
    # store-less one: load() must not auto-attach the first model's store
    import copy

    path = str(tmp_path / "model_overwrite")
    stored_model.save(path)
    assert VecStore.exists(os.path.join(path, "vecstore"))
    storeless = copy.copy(stored_model)
    storeless.vec_store = None
    storeless.save(path)
    assert not VecStore.exists(os.path.join(path, "vecstore"))
    assert RaBitQModel.load(spark, path).vec_store is None


def test_store_rerank_preserves_query_id_dtype(spark, gappy_base, stored_model):
    # the rerank keeps arbitrary query_id types; an int64 cast would
    # silently truncate float ids (review finding, round 9). String ids
    # cannot index a driver matrix, so they take the frame cells.
    _, ids, vecs = gappy_base
    qv = spark.createDataFrame(
        pd.DataFrame({"query_id": ["qa", "qb"], "__qvec": [vecs[0], vecs[1]]}),
        "query_id string, __qvec array<float>",
    )
    shortlist = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["qa", "qb"], "neighbor_id": ids[:2].tolist()}
        ),
        "query_id string, neighbor_id bigint",
    )
    base, _, _ = gappy_base
    for vectors in (
        stored_model.vec_store,
        base.select(F.col("id").alias("neighbor_id"), "vec"),
    ):
        out = exact_rerank(shortlist, qv, vectors)
        assert dict(out.dtypes)["query_id"] == "string"
        pdf = out.toPandas().sort_values("query_id", ignore_index=True)
        assert list(pdf["query_id"]) == ["qa", "qb"]
        # each query's own vector is its neighbor at distance 0
        assert pdf["dist"].max() == 0.0


@pytest.mark.parametrize("qv_form", ["matrix", "frame"])
@pytest.mark.parametrize("base_form", ["store", "base"])
def test_exact_rerank_cells_equal_brute_force(
    spark, gappy_base, stored_model, qv_form, base_form
):
    """Each of exact_rerank's four (query side x base side) cells scores
    the exhaustive shortlist (every query x every base row) exactly like
    the DataFrame + base Column fold, and its top-k is brute force
    bit-for-bit."""
    from rabitq_spark.operators.knn import knn_exact

    base, ids, vecs = gappy_base
    queries = _queries(spark, gappy_base)
    shortlist = queries.select("query_id").crossJoin(
        base.select(F.col("id").alias("neighbor_id"))
    )
    base_vecs = base.select(F.col("id").alias("neighbor_id"), "vec")
    frame = queries.select("query_id", F.col("qvec").alias("__qvec"))
    qv = (ids[:NQ], vecs[:NQ].astype(np.float64)) if qv_form == "matrix" else frame
    vectors = stored_model.vec_store if base_form == "store" else base_vecs

    def ordered(df, cols):
        return df.toPandas().sort_values(cols, ignore_index=True)

    pairs = ["query_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        ordered(exact_rerank(shortlist, qv, vectors), pairs),
        ordered(exact_rerank(shortlist, frame, base_vecs), pairs),
        check_exact=True,
    )
    pd.testing.assert_frame_equal(
        ordered(exact_topk(shortlist, qv, vectors, K), ["query_id", "rank"]),
        ordered(knn_exact(queries, base, K), ["query_id", "rank"]),
        check_exact=True,
    )


def test_pq_family_store_rerank_collects_no_queries(
    spark, gappy_base, stored_model, monkeypatch
):
    """With a vec store, the PQ, IVF-PQ and SQ8 reranks take the query
    frame as it is: no collect_queries job."""
    from rabitq_spark.index import vecstore
    from rabitq_spark.index.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
        pq_search,
        pq_train,
    )
    from rabitq_spark.index.sq8 import sq8_search, sq8_train

    base, _, _ = gappy_base
    queries = _queries(spark, gappy_base)
    store = stored_model.vec_store
    cb = pq_train(base, m=4, ksub=8, max_sample_rows=600)
    coarse, cb2 = ivfpq_train(base, n_clusters=8, m=4, ksub=8, max_sample_rows=600)
    coded2 = ivfpq_encode(base, coarse, cb2)
    lo, hi = sq8_train(base)

    def spy(*args, **kwargs):
        raise AssertionError("the store rerank collected the query batch")

    monkeypatch.setattr(vecstore, "collect_queries", spy)
    for df in (
        pq_search(queries, base, K, cb, shortlist=32, vec_store=store),
        ivfpq_search(
            queries, coded2, K, coarse, cb2, nprobe=4, shortlist=32,
            vec_store=store,
        ),
        sq8_search(queries, base, K, lo, hi, shortlist=32, vec_store=store),
    ):
        assert len(df.collect()) == NQ * K


def test_uri_gather_equals_memmap(gappy_base, stored_model):
    # the object-store branch (pyarrow.fs bounded range reads) must return
    # byte-identical rows to the memmap branch for the same store dir —
    # shuffled, duplicated, and run-coalescible ordinals included
    _, ids, vecs = gappy_base
    store = stored_model.vec_store
    uri_store = VecStore.open("file://" + store.dir)
    rng = np.random.default_rng(3)
    pick = np.concatenate(
        [ids[:10], ids[:1], ids[::13], rng.permutation(ids[:50]), ids[-2:]]
    )
    np.testing.assert_array_equal(
        uri_store.gather(pick), store.gather(pick)
    )


def test_uri_gather_missing_id_raises(stored_model):
    uri_store = VecStore.open("file://" + stored_model.vec_store.dir)
    with pytest.raises(KeyError):
        uri_store.gather(np.array([987_654_321], dtype=np.int64))


def test_uri_store_search_bitexact(spark, gappy_base, stored_model):
    # end-to-end: a model whose store handle is a file:// URI reranks
    # through the range-read branch and stays bit-identical to the memmap
    # plan (exhaustive config == join plan == brute force, transitively)
    import copy

    queries = _queries(spark, gappy_base)
    uri_model = copy.copy(stored_model)
    uri_model.vec_store = VecStore.open("file://" + stored_model.vec_store.dir)
    got = (
        search(uri_model, queries, topk=K, nprobe=uri_model.n_clusters,
               overfetch=10**6)
        .toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    )
    want = (
        search(stored_model, queries, topk=K,
               nprobe=stored_model.n_clusters, overfetch=10**6)
        .toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_build_vec_store_onto_uri_target(gappy_base, stored_model, tmp_path):
    # round-11 (r10 verdict task 5): building DIRECTLY onto a URI target
    # (pyarrow.fs output streams + move-with-overwrite) must serve gathers
    # identical to the posix-built store opened by URI — same rows, same
    # bytes, for shuffled/duplicated/missing-id shapes alike
    base, ids, vecs = gappy_base
    uri_dir = "file://" + str(tmp_path / "uri_store")
    built = build_vec_store(base, uri_dir, dim=100, id_col="id", n_shards=5)
    assert built.n_rows == len(ids)
    # shard files land under the posix path behind the URI, temps cleaned
    names = sorted(os.listdir(str(tmp_path / "uri_store")))
    assert "meta.json" in names
    assert not [n for n in names if ".tmp" in n]
    reopened = VecStore.open(uri_dir)
    posix = stored_model.vec_store
    rng = np.random.default_rng(7)
    pick = np.concatenate([ids[::7], ids[:3], rng.permutation(ids[:40])])
    np.testing.assert_array_equal(reopened.gather(pick), posix.gather(pick))
    with pytest.raises(KeyError):
        reopened.gather(np.array([987_654_321], dtype=np.int64))


def test_save_auto_builds_store_at_threshold(spark, gappy_base, tmp_path):
    # round-10 contract: at/above store_min_rows a plain save() writes the
    # sidecar even when the model never had one attached, and a fresh
    # load() + search() reranks candidate-bound (rows read == candidates)
    base, ids, vecs = gappy_base
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8)
    model = build_index(base, cfg, n_rows=len(ids))
    assert model.vec_store is None

    below = str(tmp_path / "below_threshold")
    model.save(below)  # default threshold 500k >> 600 rows: no sidecar
    assert not VecStore.exists(os.path.join(below, "vecstore"))
    assert RaBitQModel.load(spark, below).vec_store is None

    at = str(tmp_path / "at_threshold")
    model.save(at, store_min_rows=len(ids))
    assert VecStore.exists(os.path.join(at, "vecstore"))
    loaded = RaBitQModel.load(spark, at)
    assert loaded.vec_store is not None

    queries = _queries(spark, (base, ids, vecs))
    m = SearchMetrics()
    got = (
        search(loaded, queries, topk=K, metrics=m)
        .toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    )
    # candidate-bound: each distinct shortlisted id read once
    assert m.rerank_base_rows == _shortlist_ids(loaded, queries).nunique()
    assert m.rerank_base_rows < len(ids)
    want = (
        search(model, queries, topk=K)
        .toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_mm_cache_evicts_prior_generation(gappy_base, tmp_path):
    # rebuilding a store into the same directory must not leak the old
    # generation's memmaps in a long-lived worker process (round-9 advisor)
    from rabitq_spark.index.vecstore import _MM_CACHE

    base, ids, vecs = gappy_base
    store_dir = str(tmp_path / "evict")
    s1 = build_vec_store(base, store_dir, dim=100, n_shards=2, id_col="id")
    s1.gather(ids[:4])
    shard_paths = {k[0] for k in _MM_CACHE if k[0].startswith(store_dir)}
    assert shard_paths  # populated by the first gather

    s2 = build_vec_store(base, store_dir, dim=100, n_shards=2, id_col="id")
    s2.gather(ids[:4])
    for p in shard_paths:
        assert len([k for k in _MM_CACHE if k[0] == p]) == 1
