"""Exact brute-force k-NN — Phase 1 end-to-end slice and the ground-truth
oracle for the IVF+RaBitQ approximate path (SURVEY.md §7 phase 1).

Two implementations:

* `knn_exact` — pure Column expressions (J1 broadcast cross join + D1 fold +
  A1 window top-k). Deterministic double-precision math, whole-stage codegen,
  hash-checkable against an external oracle. Use for correctness and for
  moderate |queries| x |base|.

* `knn_exact_fast` — the scale path: broadcast the query block to every
  executor as a numpy matrix and compute all pairwise distances per Arrow
  batch with one BLAS matmul (||b||^2 - 2 b.q^T + ||q||^2), keeping only the
  per-batch top-k before the shuffle. This is the Spark analogue of the
  reference's SIMD bulk kernels (src/simd.rs) and scales as
  O(|base| / n_partitions) memory per task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabitq_spark._dist import ensure_package_on_executors
from rabitq_spark.functions.scratch import scratch
from rabitq_spark.functions.vector import l2_squared
from rabitq_spark.operators.topk import topk_per_group

RESULT_SCHEMA = (
    "query_id bigint, neighbor_id bigint, dist double, rank int"
)


def knn_exact(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
) -> DataFrame:
    """Exact top-k by squared L2, ties broken by neighbor id (ascending).

    Plan shape: BroadcastNestedLoopJoin(queries) -> project(dist) ->
    WindowGroupLimit(rank<=k). The query side is broadcast — at 100 TB the
    base side never moves, only the (small) query batch does.
    """
    pairs = base.crossJoin(F.broadcast(queries))
    scored = pairs.select(
        F.col(query_id).alias("query_id"),
        F.col(base_id).alias("neighbor_id"),
        l2_squared(F.col(query_vec), F.col(base_vec)).alias("dist"),
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "dist", "rank")


def knn_exact_refined(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    margin: int = 8,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
    bc_registry: list | None = None,
) -> DataFrame:
    """Exact top-k with bit-exact fold distances at GEMM speed.

    One fused pass (round-10 headline fix — the former two-phase form spent
    ~30% of the sf0.1 wall on the shortlist⋈base⋈queries refine stages):
    each partition GEMM-shortlists k+margin candidates per query, then
    recomputes THOSE rows' distances in-place with the deterministic
    elementwise-f64 left-to-right fold before the shuffle; the global
    window ranks by fold distance. Identical to `knn_exact` unless the true
    k-th and (k+margin)-th neighbors are within GEMM rounding error
    (~1e-12 relative) — and the margin now applies PER PARTITION, a
    strictly weaker assumption than the old global shortlist. The refine
    work is nq × (k+margin) fold rows per partition, executor-side numpy.
    """
    return knn_exact_fast(
        queries, base, k, query_id, query_vec, base_id, base_vec,
        bc_registry=bc_registry, local_k=k + margin, exact_fold=True,
    )


def knn_exact_fast(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
    bc_registry: list | None = None,
    local_k: int | None = None,
    exact_fold: bool = False,
) -> DataFrame:
    """BLAS-backed exact top-k: per-partition matmul + local top-k, then a
    global top-k per query. Map-side combine keeps the shuffle at
    O(|queries| * local_k * n_partitions) rows regardless of base size.

    `bc_registry` (when given) receives the query-matrix Broadcast handle so
    a blocked caller can destroy it as soon as the block's result is
    materialized — at most one block's broadcast live at a time.

    `local_k` (default k) widens the per-partition shortlist without
    widening the final answer; `exact_fold` recomputes the shortlisted
    rows' distances with the l2_squared-mirroring fold (elementwise f32→f64
    cast, (x-y)² in double, left-to-right accumulation — the pattern of
    vecstore.l2_fold, which tests/test_vecstore.py proves bit-identical to
    the Column expression) so the emitted dists are hash-stable against
    any engine.
    """
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    if local_k is None:
        local_k = k
    qpd = queries.select(query_id, query_vec).toPandas()
    q_ids = np.asarray(qpd[query_id].values, dtype=np.int64)
    q_mat = np.ascontiguousarray(np.vstack(qpd[query_vec].values).astype(np.float64))
    q_sq = (q_mat * q_mat).sum(axis=1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_sq))
    if bc_registry is not None:
        bc_registry.append(bc)

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b, sq_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = np.asarray(pdf[base_id].values, dtype=np.int64)
            b_mat = np.ascontiguousarray(np.vstack(pdf[base_vec].values).astype(np.float64))
            b_sq = (b_mat * b_mat).sum(axis=1)
            kk = min(local_k, len(b_ids))
            # block the query side so the distance matrix stays ≤ ~256 MB
            # regardless of batch shape (a 20k-query × 10k-row batch would
            # otherwise allocate 1.6 GB per Arrow batch)
            nq = mat_b.shape[0]
            qblock = max(1, 33_554_432 // max(len(b_ids), 1))
            if exact_fold:
                # the fold temporaries diff/sq below are (qblock*kk, dim)
                # float64 — unbounded by the GEMM cap when a small Arrow
                # batch (tail partition) meets a large query block (qblock
                # grows inversely with batch size; simjoin passes up to
                # 500k queries). Bound the block so the fold obeys the
                # same ~256 MB ceiling as the distance matrix.
                qblock = max(
                    1, min(qblock, 33_554_432 // max(kk * mat_b.shape[1], 1))
                )
            for lo in range(0, nq, qblock):
                hi = min(lo + qblock, nq)
                # dists[i, j] = ||q_i - b_j||^2, computed as one GEMM.
                # Buffers come from the per-worker scratch pool with out=
                # ops (same operands, same order — bit-identical to the
                # expression form): fresh >128 KB numpy temporaries are
                # mmap'd and refaulted every task, and on virtualized
                # hosts the first-touch stall dwarfed the arithmetic
                # (round-11 headline finding, functions/scratch.py).
                gemm = scratch("knn_gemm", (hi - lo, len(b_ids)))
                np.matmul(mat_b[lo:hi], b_mat.T, out=gemm)
                np.multiply(2.0, gemm, out=gemm)
                dists = scratch("knn_dists", (hi - lo, len(b_ids)))
                np.add(sq_b[lo:hi, None], b_sq[None, :], out=dists)
                np.subtract(dists, gemm, out=dists)
                np.maximum(dists, 0.0, out=dists)
                part = np.argpartition(dists, kk - 1, axis=1)[:, :kk]
                rows = np.repeat(np.arange(hi - lo), kk)
                cols = part.ravel()
                if exact_fold:
                    # bit-exact refine IN the GEMM pass: recompute the
                    # shortlisted pairs' distances with the fold that
                    # mirrors l2_squared exactly (f32→f64 is value-exact,
                    # so mat_b/b_mat hold the cast operands already)
                    # pooled-buffer form of
                    #   diff = mat_b[lo + rows] - b_mat[cols]
                    #   sq = diff * diff; acc = left-to-right sum of sq cols
                    # — identical operands in identical order, so the fold
                    # stays bit-exact; only the allocations are reused
                    nr, dimw = len(rows), mat_b.shape[1]
                    sq = scratch("knn_fold_q", (nr, dimw))
                    np.take(mat_b, lo + rows, axis=0, out=sq)
                    gb = scratch("knn_fold_b", (nr, dimw))
                    np.take(b_mat, cols, axis=0, out=gb)
                    np.subtract(sq, gb, out=sq)
                    np.multiply(sq, sq, out=sq)
                    acc = scratch("knn_fold_acc", (nr,))
                    acc[:] = 0.0
                    for j in range(sq.shape[1]):
                        np.add(acc, sq[:, j], out=acc)
                    # per-partition trim to the FINAL k by (fold dist,
                    # neighbor id): the global window only needs each
                    # partition's own top-k, so the refined plan's shuffle
                    # volume matches the plain plan's exactly instead of
                    # carrying the +margin rows. (dist, neighbor_id) is a
                    # total order, so union-of-partition-top-k contains
                    # the global top-k and the window result is identical.
                    nqb = hi - lo
                    d_mat = acc.reshape(nqb, kk)
                    n_mat = b_ids[cols].reshape(nqb, kk)
                    kf = min(k, kk)
                    # stable two-pass argsort = lexsort by (dist, id):
                    # order by id first, then stably by distance
                    ord1 = np.argsort(n_mat, axis=1, kind="stable")
                    d1 = np.take_along_axis(d_mat, ord1, axis=1)
                    n1 = np.take_along_axis(n_mat, ord1, axis=1)
                    ord2 = np.argsort(d1, axis=1, kind="stable")[:, :kf]
                    yield pd.DataFrame(
                        {
                            "query_id": ids_b[
                                lo + np.repeat(np.arange(nqb), kf)
                            ],
                            "neighbor_id": np.take_along_axis(
                                n1, ord2, axis=1
                            ).ravel(),
                            "dist": np.take_along_axis(
                                d1, ord2, axis=1
                            ).ravel(),
                            "rank": 0,
                        }
                    )
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": ids_b[lo + rows],
                        "neighbor_id": b_ids[cols],
                        "dist": dists[rows, cols],
                        "rank": 0,
                    }
                )

    # parallelism comes from base partitions: a compact base (e.g. a model
    # table written as a handful of files) would run the GEMM on 2-3 cores
    # — spread it to the cluster width first (measured 121 -> 8.6 s on a
    # 20k × 20k self-join at local[32]; a no-op when the base is already
    # wide, so the 100 TB path never pays an extra shuffle)
    slim = base.select(base_id, base_vec)
    par = spark.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < par:
        slim = slim.repartition(par)
    local = slim.mapInPandas(score_partition, RESULT_SCHEMA)
    return (
        topk_per_group(
            local.drop("rank"),
            ["query_id"],
            [F.col("dist").asc(), F.col("neighbor_id").asc()],
            k,
        )
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def maxsim_search(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
    n_query_vecs: int = 4,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval over multi-vector
    documents: score(q, d) = Σ_i max_j  q_i · d_j, where q_i are the query
    document's vectors and d_j the candidate document's vectors.

    Inputs carry (group_col, slot, vec_col): one row per vector, `slot`
    the vector's index within its document, slot < n_query_vecs on the
    query side. Returns (query_id, doc_id, score, rank) — top-k documents
    per query, ties broken by ascending doc id.

    Bit-exactness: each dot product is a left-to-right F.aggregate fold;
    the per-slot max is a comparison of identical doubles; the final sum
    over slots is a FIXED-ORDER column expression (s0 + s1 + ... per the
    conditional-aggregation pivot), never a float groupBy-sum whose
    partial-aggregation order could differ between engines.

    Scale: this is the exact/brute path — cost |Q|·n_query_vecs × |D|·m
    dots, the MaxSim analogue of knn_exact. Fan out the candidate side
    with an ANN shortlist (index/search.py) before scoring when |D| is
    corpus-sized; the scoring plan here only ever shuffles keyed by
    (query, doc), no all-pairs materialization beyond the scored pairs.
    """
    q = queries.select(
        F.col(group_col).alias("query_id"),
        F.col("slot").alias("qslot"),
        F.col(vec_col).alias("qvec"),
    )
    d = base.select(
        F.col(group_col).alias("doc_id"),
        F.col(vec_col).alias("dvec"),
    )
    dot = F.aggregate(
        F.zip_with("qvec", "dvec", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_token = q.crossJoin(d).select(
        "query_id", "doc_id", "qslot", dot.alias("dot")
    )
    return _maxsim_score_tail(per_token, n_query_vecs, k)


def _maxsim_score_tail(
    per_token: DataFrame, n_query_vecs: int, k: int
) -> DataFrame:
    """Shared MaxSim scoring tail over (query_id, doc_id, qslot, dot)
    token-pair rows: per-slot max, fixed-order sum over slots (conditional-
    aggregation pivot, then an explicit left-to-right + chain — never a
    float groupBy-sum whose partial order could differ between engines),
    then the top-k window."""
    per_slot = per_token.groupBy("query_id", "doc_id", "qslot").agg(
        F.max("dot").alias("best")
    )
    slot_cols = [
        F.max(F.when(F.col("qslot") == i, F.col("best"))).alias(f"s{i}")
        for i in range(n_query_vecs)
    ]
    pivoted = per_slot.groupBy("query_id", "doc_id").agg(*slot_cols)
    score = F.coalesce(F.col("s0"), F.lit(0.0))
    for i in range(1, n_query_vecs):
        score = score + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    scored = pivoted.select("query_id", "doc_id", score.alias("score"))
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("doc_id")],
        k=k,
    ).select("query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank"))


def maxsim_search_ivf(
    queries: DataFrame,
    base: DataFrame,
    model,
    k: int = 10,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
    n_query_vecs: int = 4,
    nprobe: int | None = None,
    per_token_k: int = 32,
    token_id_col: str = "token_id",
) -> DataFrame:
    """Index-accelerated MaxSim (the PLAID/ColBERTv2 shape): phase 1 runs
    each query TOKEN through the token-level IVF+RaBitQ index for its
    `per_token_k` nearest base tokens; the hit tokens' parent documents
    form the candidate set. Phase 2 scores candidates EXACTLY with the
    same fixed-order MaxSim tail as maxsim_search — so widening the
    budgets to exhaustive (nprobe = n_clusters, per_token_k >= all base
    tokens) reproduces the brute-force result bit-for-bit, which is how
    the `maxsim_ivf` oracle query checks this whole two-phase plan.

    `base` must carry `token_id_col` matching the ids the `model` was
    built over (one row per token vector). Scale: phase 1 is the standard
    probe-pruned token search (index side never moves); phase 2's cost is
    |candidates| × n_query_vecs × m dots instead of |Q|·|D| — the
    candidate join shuffles keyed by (query, doc), no crossJoin anywhere.
    Recall knob = per_token_k × nprobe (a doc can only be missed if NONE
    of its tokens reach any query token's shortlist)."""
    from rabitq_spark.index.search import search

    q_tokens = queries.select(
        (
            F.col(group_col).cast("long") * n_query_vecs + F.col("slot")
        ).alias("query_id"),
        F.col(vec_col).alias("qvec"),
    )
    hits = search(
        model,
        q_tokens,
        topk=per_token_k,
        nprobe=nprobe or model.config.nprobe,
        overfetch=10**6 if per_token_k >= 10**6 else None,
    )
    tok2doc = base.select(
        F.col(token_id_col).alias("neighbor_id"),
        F.col(group_col).alias("doc_id"),
    )
    cand = (
        hits.join(tok2doc, "neighbor_id")
        .select(
            F.expr(f"query_id DIV {n_query_vecs}").alias("query_id"), "doc_id"
        )
        .distinct()
    )
    qt = queries.select(
        F.col(group_col).alias("query_id"),
        F.col("slot").alias("qslot"),
        F.col(vec_col).alias("qvec"),
    )
    dt = base.select(
        F.col(group_col).alias("doc_id"), F.col(vec_col).alias("dvec")
    )
    dot = F.aggregate(
        F.zip_with("qvec", "dvec", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_token = (
        cand.join(qt, "query_id")
        .join(dt, "doc_id")
        .select("query_id", "doc_id", "qslot", dot.alias("dot"))
    )
    return _maxsim_score_tail(per_token, n_query_vecs, k)
