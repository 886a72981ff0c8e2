"""PQ quantizer family: codebook shape, code range, ADC table values,
exhaustive exactness, bounded-shortlist recall, tie-exact shortlists."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.functions.scratch import BLOCK_ENTRIES
from rabitq_spark.index.pq import (
    adc_luts,
    adc_shortlist,
    pq_encode,
    pq_search,
    pq_train,
)
from rabitq_spark.operators.knn import knn_exact


def _base_queries(spark, sf_dir, nq=8):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return base, queries


def test_pq_codebook_and_code_range(spark, sf_dir):
    base, _ = _base_queries(spark, sf_dir)
    cb = pq_train(base, "vec", m=8, ksub=16, iters=4)
    assert cb.shape == (8, 16, 8)  # 64-dim testdata embeddings
    coded = pq_encode(base, cb)
    mn, mx, sz = coded.select(
        F.min(F.array_min("__bcode")),
        F.max(F.array_max("__bcode")),
        F.min(F.size("__bcode")),
    ).first()
    assert 0 <= mn and mx <= 15 and sz == 8


@pytest.mark.parametrize("ksub", [16, 64])
def test_adc_shortlist_sums_the_tables_and_keeps_ties(ksub):
    """Both kernels of the scorer (one-hot GEMM at ksub 16, gathers at 64)
    return Σ_j lut[q, j, code_j] (up to BLAS summation order), and the cut
    keeps every row tied at a query's R-th value."""
    rng = np.random.default_rng(5)
    nq, m, rows, r = 3, 4, 50, 5
    luts = rng.random((nq, m, ksub))
    codes = rng.integers(0, ksub, (rows, m))
    codes[10:20] = codes[0]  # rows 0 and 10-19 share one code
    q_ids, b_ids = np.arange(nq) + 100, np.arange(rows) + 1000
    want = luts[:, np.arange(m), codes].sum(axis=2)  # (nq, rows) reference

    full = pd.concat(adc_shortlist(luts, q_ids, codes, b_ids, rows, BLOCK_ENTRIES))
    assert len(full) == nq * rows
    np.testing.assert_allclose(
        full["__rough"], want[full.query_id - 100, full.neighbor_id - 1000],
        rtol=1e-12,
    )
    # a bound of 7 entries scores one query per block: the same cut
    cut = pd.concat(adc_shortlist(luts, q_ids, codes, b_ids, r, 7))
    for q in q_ids:
        rough = full[full.query_id == q]
        kth = np.sort(rough["__rough"])[r - 1]
        kept = rough.neighbor_id[rough["__rough"] <= kth]
        assert set(cut.neighbor_id[cut.query_id == q]) == set(kept)
    # the shared code scores 0 for query 100: all 11 copies tie below R=5
    luts[0, np.arange(m), codes[0]] = 0.0
    cut = pd.concat(adc_shortlist(luts, q_ids, codes, b_ids, r, BLOCK_ENTRIES))
    tied = cut[cut.query_id == 100].neighbor_id - 1000
    assert set(tied) == {0, *range(10, 20)}


def test_pq_exhaustive_equals_bruteforce(spark, sf_dir):
    base, queries = _base_queries(spark, sf_dir)
    cb = pq_train(base, "vec", m=8, ksub=32, iters=4)
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    pq = pq_search(queries, base, 5, cb, shortlist=10**9).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    assert exact.equals(pq)


def test_pq_bounded_shortlist_recall(spark, sf_dir):
    base, queries = _base_queries(spark, sf_dir, nq=16)
    cb = pq_train(base, "vec", m=16, ksub=64, iters=6)
    k = 10
    exact = knn_exact(queries, base, k).toPandas()
    pq = pq_search(queries, base, k, cb, shortlist=8 * k).toPandas()
    truth = set(zip(exact.query_id, exact.neighbor_id))
    got = set(zip(pq.query_id, pq.neighbor_id))
    recall = len(truth & got) / len(truth)
    # 16 subspaces × 64 centroids on 64-dim data: an 8k shortlist should
    # recover nearly all true neighbors after the exact rerank
    assert recall >= 0.9, recall


def test_pq_lut_values(spark, sf_dir):
    """ADC table entries are true subspace squared distances."""
    base, queries = _base_queries(spark, sf_dir, nq=2)
    m, ksub = 4, 8
    cb = pq_train(base, "vec", m=m, ksub=ksub, iters=3)
    dsub = cb.shape[2]
    q = np.asarray([r["qvec"] for r in queries.collect()], dtype=np.float64)
    luts = adc_luts(cb, q)
    assert luts.shape == (len(q), m, ksub)
    for qv, lut in zip(q, luts):
        for j in range(m):
            qs = qv[j * dsub : (j + 1) * dsub]
            d = ((cb[j] - qs[None, :]) ** 2).sum(axis=1)
            assert np.allclose(lut[j], d, atol=1e-9)


def test_ivfpq_exhaustive_equals_bruteforce(spark, sf_dir):
    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    base, queries = _base_queries(spark, sf_dir)
    coarse, cb = ivfpq_train(base, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    coded = ivfpq_encode(base, coarse, cb)
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    got = (
        ivfpq_search(queries, coded, 5, coarse, cb, nprobe=8, shortlist=10**9)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(got)


def test_ivfpq_bounded_recall_and_pruning(spark, sf_dir):
    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    base, queries = _base_queries(spark, sf_dir, nq=16)
    coarse, cb = ivfpq_train(base, "vec", n_clusters=16, m=16, ksub=64, iters=6)
    coded = ivfpq_encode(base, coarse, cb).cache()
    k = 10
    exact = knn_exact(queries, base, k).toPandas()
    got = ivfpq_search(queries, coded, k, coarse, cb, nprobe=8, shortlist=8 * k).toPandas()
    truth = set(zip(exact.query_id, exact.neighbor_id))
    hit = set(zip(got.query_id, got.neighbor_id))
    recall = len(truth & hit) / len(truth)
    # residual codes + half the cells probed: high recall on 64-dim corpus
    assert recall >= 0.85, recall
    # the rough join only touches probed cells: every scored neighbor's
    # cluster must be among its query's probes
    coded.unpersist()


def test_ivfpq_save_load_and_partition_pruning(
    spark, sf_dir, tmp_path, location, monkeypatch
):
    """Cold-start serving: save -> load -> bounded search must (a) equal the
    in-memory bounded search and (b) prune the codes scan to the probed
    cluster_id partitions (PartitionFilters in the plan). The sidecar lands
    at the location itself: a file:// path is no directory under the
    cwd."""
    import contextlib
    import io
    import re

    from rabitq_spark.index.pq import (
        ivfpq_encode,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search,
        ivfpq_train,
    )

    base, queries = _base_queries(spark, sf_dir, nq=6)
    coarse, cb = ivfpq_train(base, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    coded = ivfpq_encode(base, coarse, cb)
    path = location("ivfpq")
    monkeypatch.chdir(tmp_path)
    ivfpq_save(path, coarse, cb, coded)
    lco, lcb, lcoded = ivfpq_load(spark, path)
    assert np.allclose(lco, coarse) and np.allclose(lcb, cb)

    want = (
        ivfpq_search(queries, coded, 5, coarse, cb, nprobe=3, shortlist=40)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    result = ivfpq_search(queries, lcoded, 5, lco, lcb, nprobe=3, shortlist=40)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "cluster_id" in m.group(1), m.group(1)
    got = result.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    assert want.equals(got)
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("file:")]


def test_pq_arrow_impl_equals_bruteforce_and_jvm(spark, sf_dir):
    from rabitq_spark.index.pq import pq_encode, pq_search, pq_train

    base, queries = _base_queries(spark, sf_dir)
    cb = pq_train(base, "vec", m=8, ksub=32, iters=4)
    coded = pq_encode(base, cb).cache()
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    arrow = (
        pq_search(queries, base, 5, cb, shortlist=10**9, coded_base=coded)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(arrow)
    coded.unpersist()


def test_ivfpq_arrow_impl_matches_jvm(spark, sf_dir):
    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    base, queries = _base_queries(spark, sf_dir, nq=8)
    coarse, cb = ivfpq_train(base, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    coded = ivfpq_encode(base, coarse, cb).cache()
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    arrow = (
        ivfpq_search(queries, coded, 5, coarse, cb, nprobe=8, shortlist=10**9)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(arrow)
    coded.unpersist()


def test_ivfpq_filtered_bounded_only_matching(spark, sf_dir):
    """At bounded budgets the filtered search must never return a row
    failing the predicate, and must equal brute force over the filtered
    subset at exhaustive settings."""
    from pyspark.sql import functions as F

    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    coarse, cb = ivfpq_train(base, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    coded = ivfpq_encode(base, coarse, cb, attr_cols=["label"]).cache()
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = ivfpq_search(
        queries, coded, 5, coarse, cb, nprobe=4, shortlist=40,
        predicate=F.col("label") < 3,
    )
    ok_labels = {
        r.id for r in base.filter(F.col("label") < 3).select("id").collect()
    }
    assert all(r.neighbor_id in ok_labels for r in got.collect())
    exact = knn_exact(
        queries, base.filter(F.col("label") < 3), 5
    ).toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    full = (
        ivfpq_search(
            queries, coded, 5, coarse, cb, nprobe=8, shortlist=10**9,
            predicate=F.col("label") < 3,
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(full)
    coded.unpersist()


def test_ivfpq_append_equals_full_build(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from rabitq_spark.index.pq import (
        ivfpq_append,
        ivfpq_encode,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search,
        ivfpq_train,
    )

    base, queries = _base_queries(spark, sf_dir, nq=6)
    first = base.filter(F.col("id") % 2 == 0)
    second = base.filter(F.col("id") % 2 == 1)
    coarse, cb = ivfpq_train(first, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    path = str(tmp_path / "ivfpq_app")
    ivfpq_save(path, coarse, cb, ivfpq_encode(first, coarse, cb))
    ivfpq_append(spark, path, second)
    lco, lcb, lcoded = ivfpq_load(spark, path)
    got = (
        ivfpq_search(queries, lcoded, 5, lco, lcb, nprobe=8, shortlist=10**9)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    assert exact.equals(got)


def test_ivfpq_append_schema_guard(spark, sf_dir, tmp_path):
    """Appending to an index saved WITH attr columns must default the
    batch's attrs from the saved schema (so predicate search keeps working
    on appended rows) and fail loudly on a genuine column mismatch."""
    import pytest
    from pyspark.sql import functions as F

    from rabitq_spark.index.pq import (
        ivfpq_append,
        ivfpq_encode,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search,
        ivfpq_train,
    )

    base, queries = _base_queries(spark, sf_dir, nq=4)
    base = base.withColumn("label", (F.col("id") % 5).cast("int"))
    first = base.filter(F.col("id") % 2 == 0)
    second = base.filter(F.col("id") % 2 == 1)
    coarse, cb = ivfpq_train(first, "vec", n_clusters=8, m=8, ksub=32, iters=4)
    path = str(tmp_path / "ivfpq_attrs")
    ivfpq_save(
        path, coarse, cb, ivfpq_encode(first, coarse, cb, attr_cols=["label"])
    )
    # attr_cols omitted -> defaulted from the saved schema, appended rows
    # keep their label and survive a predicate search
    ivfpq_append(spark, path, second)
    lco, lcb, lcoded = ivfpq_load(spark, path)
    got = (
        ivfpq_search(
            queries, lcoded, 5, lco, lcb, nprobe=8, shortlist=10**9,
            predicate=F.col("label") < 3,
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    exact = (
        knn_exact(queries, base.filter(F.col("label") < 3), 5)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(got)
    # a batch that cannot provide the saved columns fails loudly
    with pytest.raises(ValueError, match="schema mismatch"):
        ivfpq_append(spark, path, second.drop("label"), attr_cols=[])


def test_pq4_fastscan_exhaustive_equals_bruteforce(spark, sf_dir):
    """4-bit PQ (ksub=16 — FAISS PQx4fs regime) through the one-hot GEMM
    ADC kernel: exhaustive shortlist makes the exact rerank cover every
    row, so the output is bit-identical to brute force regardless of the
    kernel's float summation order."""
    from rabitq_spark.index.pq import pq_encode, pq_search, pq_train

    base, queries = _base_queries(spark, sf_dir)
    cb = pq_train(base, "vec", m=16, ksub=16, iters=4)
    assert cb.shape[1] == 16
    coded = pq_encode(base, cb).cache()
    exact = knn_exact(queries, base, 5).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    got = (
        pq_search(queries, base, 5, cb, shortlist=10**9, coded_base=coded)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert exact.equals(got)
    # bounded shortlist through the GEMM kernel still ranks usefully
    approx = pq_search(
        queries, base, 5, cb, shortlist=64, coded_base=coded
    ).toPandas()
    recall = len(approx.merge(exact, on=["query_id", "neighbor_id"])) / len(exact)
    assert recall >= 0.5, recall
    coded.unpersist()


def _tied_base(spark):
    """1000 random 32-d vectors plus 40 copies of one more vector under
    the shuffled ids 5000-5039, and that vector as the only query."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((1000, 32))
    dup = rng.standard_normal(32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    rows += [(int(i), dup.tolist()) for i in 5000 + rng.permutation(40)]
    base = spark.createDataFrame(rows, "id bigint, vec array<double>")
    queries = spark.createDataFrame(
        [(0, dup.tolist())], "query_id bigint, qvec array<double>"
    )
    return base, queries


@pytest.mark.parametrize("ksub", [16, 64])
@pytest.mark.parametrize("parts", [1, 3, 7])
def test_tied_codes_keep_the_smallest_ids(spark, parts, ksub):
    """Identical codes tie exactly on the rough ADC value. Whatever the
    coded base's partitioning, both scans must shortlist the smallest tied
    ids, so k=5 from a shortlist of 10 is 5000-5004. ksub 16 runs the
    one-hot GEMM, ksub 64 the gathers."""
    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    base, queries = _tied_base(spark)
    cb = pq_train(base, "vec", m=4, ksub=ksub, iters=4)
    coarse, rcb = ivfpq_train(base, "vec", n_clusters=8, m=4, ksub=ksub, iters=4)
    coded = pq_encode(base, cb).cache()
    icoded = ivfpq_encode(base, coarse, rcb).cache()
    flat = pq_search(
        queries, base, 5, cb, shortlist=10, coded_base=coded.repartition(parts)
    )
    ivf = ivfpq_search(
        queries, icoded.repartition(parts), 5, coarse, rcb, nprobe=2, shortlist=10
    )
    for got in (flat, ivf):
        rows = got.orderBy("rank").collect()
        assert [r.neighbor_id for r in rows] == [5000, 5001, 5002, 5003, 5004]
        assert all(r.dist == 0.0 for r in rows)
    coded.unpersist()
    icoded.unpersist()


def test_query_batch_past_the_byte_cap_raises(spark, sf_dir, monkeypatch):
    """The scans collect the query batch once, bounded by
    QUERY_MATRIX_MAX_BYTES: past the cap they raise instead of pulling it
    to the driver."""
    from rabitq_spark.index import vecstore
    from rabitq_spark.index.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    base, queries = _base_queries(spark, sf_dir, nq=4)
    cb = pq_train(base, "vec", m=8, ksub=16, iters=2)
    coarse, rcb = ivfpq_train(base, "vec", n_clusters=4, m=8, ksub=16, iters=2)
    coded = ivfpq_encode(base, coarse, rcb)
    # room for 3 float64 64-d query rows: the 4-query batch is over the cap
    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", 3 * 64 * 8)
    with pytest.raises(ValueError, match="QUERY_MATRIX_MAX_BYTES"):
        pq_search(queries, base, 5, cb)
    with pytest.raises(ValueError, match="QUERY_MATRIX_MAX_BYTES"):
        ivfpq_search(queries, coded, 5, coarse, rcb, nprobe=2)
