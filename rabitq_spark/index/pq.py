"""Product-quantization (PQ) shortlist search — the third quantizer family
beside RaBitQ bit codes (index/build.py) and SQ8 (index/sq8.py).

PQ is the workhorse codec of billion-scale ANN systems (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011; FAISS
IVFPQ): the vector is split into `m` subspaces, each subspace quantized to
one of `ksub` learned centroids, so a d-dim float vector compresses to m
bytes. The reference keeps a single quantizer (src/rabitq.rs); production
deployments at 100 TB ship PQ beside it because 8–16 bytes/vector is what
lets the whole corpus's codes stay in memory.

Scheme
------
Train:   per-subspace Lloyd k-means on a driver-bounded sample (seeded,
         fixed iterations — the codebook only shapes shortlist QUALITY;
         exactness comes from the rerank, so sampling costs nothing in
         correctness, same argument as sq8_train).
Encode:  codes[j] = argmin_c ||x_j − C_j[c]||² — Arrow-batched numpy GEMM
         per subspace (mapInPandas); one narrow scan, no shuffle.
Search:  asymmetric distance computation (ADC), one Arrow scan for flat PQ
         and IVF-PQ. The driver collects the query batch once (bounded by
         vecstore.QUERY_MATRIX_MAX_BYTES). adc_luts builds the (nq, m,
         ksub) tables of squared subspace distances: of the queries, on
         the driver, for flat PQ; of their residuals against a cell, per
         scoring task, for IVF-PQ. adc_shortlist scores each batch of
         codes:

             d_hat(q, b) = Σ_j LUT[q, j, codes[b, j]]

         as one one-hot GEMM at ksub ≤ 32 and m transposed-LUT gathers
         above it, keeping every row at or under its query's R-th rough
         value (ties kept). Global top-R on (rough, neighbor_id) → exact
         double-fold rerank → final top-k.

Exactness contract: with shortlist ≥ |base| the rough ADC phase is a
permutation and the output equals brute-force `knn_exact` bit-for-bit
(the rerank recomputes every distance with the deterministic fold) — that
configuration is the DuckDB oracle anchor; bounded shortlists are the
scale path, recall asserted in tests/test_pq.py.

Scale shape: codes are m ints/row (vs d doubles) — the coded base scan
reads ~m/(8·d)-th of the raw bytes; the query batch (flat PQ: its LUTs)
broadcasts; only the local cuts, O(nq × R) rows per scoring batch,
shuffle. At 1000 executors the base never moves, exactly like the SQ8
and IVF paths.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from rabitq_spark._dist import ensure_package_on_executors
from rabitq_spark.index.search import cluster_filter, local_cut
from rabitq_spark.index import vecstore
from rabitq_spark.index.vecstore import collect_queries, exact_topk, query_matrix
from rabitq_spark.operators.topk import topk_per_group


def coded_rerank_base(coded_base: DataFrame, vec_store=None):
    """What the exact rerank of a coded base (__bid, __bvec, ...: the PQ,
    IVF-PQ and SQ8 tables) reads base vectors from: the vec store's
    candidate-bound point reads when given (index/vecstore.py), else the
    coded base's raw vectors (an O(base) join)."""
    if vec_store is not None:
        return vec_store
    return coded_base.select(
        F.col("__bid").alias("neighbor_id"), F.col("__bvec").alias("vec")
    )


def _kmeans_1sub(x: np.ndarray, ksub: int, seed: int, iters: int) -> np.ndarray:
    """Seeded Lloyd's k-means for one subspace: deterministic given the
    sample. Init = a seeded permutation of distinct rows (kmeans++ adds
    sequential draws for little shortlist gain at ksub=256). Empty clusters
    are re-seeded to the points farthest from their centroid."""
    rng = np.random.RandomState(seed)
    n = x.shape[0]
    k = min(ksub, n)
    cent = x[rng.permutation(n)[:k]].astype(np.float64).copy()
    for _ in range(iters):
        # assign: ||x||² − 2xC' + ||C||² ; argmin over centroids
        d = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
            else:
                cent[c] = x[d.min(axis=1).argmax()]
    if k < ksub:  # degenerate tiny sample: tile so codes stay in range
        cent = np.vstack([cent, np.repeat(cent[:1], ksub - k, axis=0)])
    return cent


def pq_train(
    base: DataFrame,
    vec_col: str = "vec",
    m: int = 8,
    ksub: int = 256,
    max_sample_rows: int = 100_000,
    seed: int = 7,
    iters: int = 10,
) -> np.ndarray:
    """Train the codebook: (m, ksub, dsub) float64 array. Requires
    dim % m == 0 (pad upstream otherwise — pad_to_multiple exists).
    The sample is driver-bounded (limit), like sq8_train: at 100 TB a full
    k-means pass would shuffle the corpus for a codebook whose only job is
    shortlist ordering."""
    rows = base.select(F.col(vec_col).alias("v")).limit(max_sample_rows).collect()
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}; pad the vectors")
    dsub = dim // m
    return np.stack(
        [
            _kmeans_1sub(x[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
            for j in range(m)
        ]
    )


def pq_encode(
    base: DataFrame,
    codebook: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """(id, vec, code) with code = array<int> of length m — Arrow-batched
    argmin per subspace (GEMM against the broadcast codebook), the narrow
    no-shuffle encode scan."""
    m, ksub, dsub = codebook.shape
    cb = codebook  # serialized into the task closure (m·ksub·dsub doubles)
    schema = StructType(
        [
            StructField("__bid", base.schema[id_col].dataType),
            StructField("__bvec", base.schema[vec_col].dataType),
            StructField("__bcode", ArrayType(IntegerType())),
        ]
    )
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["__v"]), dtype=np.float64)
            if x.size == 0:
                # non-empty batch of zero-length vectors: emit a same-length
                # empty code per row (a [] literal would length-mismatch the
                # id series and raise inside the executor)
                yield pd.DataFrame(
                    {
                        "__bid": pdf["__i"],
                        "__bvec": pdf["__v"],
                        "__bcode": [[] for _ in range(len(pdf))],
                    }
                )
                continue
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d = cnorm[j][None, :] - 2.0 * (xs @ cb[j].T)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "__bid": pdf["__i"],
                    "__bvec": pdf["__v"],
                    "__bcode": list(codes),
                }
            )

    return base.select(
        F.col(id_col).alias("__i"), F.col(vec_col).alias("__v")
    ).mapInPandas(encode, schema)


def ivfpq_train(
    base: DataFrame,
    vec_col: str = "vec",
    n_clusters: int = 32,
    m: int = 8,
    ksub: int = 256,
    max_sample_rows: int = 100_000,
    seed: int = 7,
    iters: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """IVF-PQ training (the FAISS IVFPQ layout): coarse full-dim centroids
    partition the corpus; the PQ codebook is trained on RESIDUALS
    (x − centroid), which concentrates the quantizer's dynamic range on the
    within-cell geometry — the standard accuracy win over flat PQ. Returns
    (coarse (n_clusters, dim), codebook (m, ksub, dsub))."""
    rows = base.select(F.col(vec_col).alias("v")).limit(max_sample_rows).collect()
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}; pad the vectors")
    dsub = dim // m
    coarse = _kmeans_1sub(x, n_clusters, seed, iters)
    d = (
        (x * x).sum(axis=1)[:, None]
        - 2.0 * (x @ coarse.T)
        + (coarse * coarse).sum(axis=1)[None, :]
    )
    resid = x - coarse[d.argmin(axis=1)]
    codebook = np.stack(
        [
            _kmeans_1sub(resid[:, j * dsub : (j + 1) * dsub], ksub, seed + 1 + j, iters)
            for j in range(m)
        ]
    )
    return coarse, codebook


def ivfpq_encode(
    base: DataFrame,
    coarse: np.ndarray,
    codebook: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """(cluster_id, __bid, __bvec, __bcode[, attrs...]): coarse-assign then
    PQ-encode the residual — one Arrow-batched scan, no shuffle. Write the
    result partitioned by cluster_id for a serving deployment and probe
    scans become partition-pruned reads, same layout as the RaBitQ index.
    `attr_cols` ride the coded rows so metadata predicates filter the scan
    itself (the filtered-ANN surface, same design as build_index)."""
    m, ksub, dsub = codebook.shape
    cb, co = codebook, coarse
    attr_cols = attr_cols or []
    conorm = (co * co).sum(axis=1)
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]
    schema = StructType(
        [
            StructField("cluster_id", IntegerType()),
            StructField("__bid", base.schema[id_col].dataType),
            StructField("__bvec", base.schema[vec_col].dataType),
            StructField("__bcode", ArrayType(IntegerType())),
            *[StructField(a, base.schema[a].dataType) for a in attr_cols],
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = np.asarray(list(pdf["__v"]), dtype=np.float64)
            if x.size == 0:
                continue
            d = conorm[None, :] - 2.0 * (x @ co.T)
            assign = d.argmin(axis=1)
            resid = x - co[assign]
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            for j in range(m):
                rs = resid[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (cnorm[j][None, :] - 2.0 * (rs @ cb[j].T)).argmin(axis=1)
            out = {
                "cluster_id": assign.astype(np.int32),
                "__bid": pdf["__i"],
                "__bvec": pdf["__v"],
                "__bcode": list(codes),
            }
            for a in attr_cols:
                out[a] = pdf[a]
            yield pd.DataFrame(out)

    return base.select(
        F.col(id_col).alias("__i"), F.col(vec_col).alias("__v"), *attr_cols
    ).mapInPandas(encode, schema)


def ivfpq_save(
    path: str, coarse: np.ndarray, codebook: np.ndarray, coded: DataFrame
) -> None:
    """Persist an IVF-PQ index: codes Parquet partitioned by cluster_id
    (probe-filtered reads prune partitions — the same serving layout as
    RaBitQModel.save, index/model.py) + a numpy sidecar for the small
    driver-held state (coarse centroids, codebook)."""
    import os

    os.makedirs(path, exist_ok=True)
    (
        coded.repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{path}/codes")
    )
    np.savez(f"{path}/arrays.npz", coarse=coarse, codebook=codebook)


def ivfpq_append(
    spark,
    path: str,
    new_rows: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    attr_cols: list[str] | None = None,
) -> None:
    """Frozen-codebook incremental ingest: encode a new batch with the
    SAVED coarse centroids + codebook and append its coded rows into the
    cluster_id partitions — O(batch) work, no index rewrite, the PQ twin
    of append_to_index (index/build.py). Codebooks stay frozen by design:
    the exact rerank keeps results correct; re-train only when drift
    degrades the rough ordering (monitor via operators/embstats.py)."""
    arrays = np.load(f"{path}/arrays.npz")
    # the saved codes schema is the append contract: a narrower batch (e.g.
    # attr_cols omitted on an index saved WITH attributes) would write
    # narrower parquet files that a later predicate search silently
    # null-filters. Default attr_cols from the saved schema and fail loudly
    # on any remaining mismatch instead.
    saved_cols = [
        f.name
        for f in spark.read.parquet(f"{path}/codes").schema.fields
        if f.name != "cluster_id"
    ]
    saved_attrs = [
        c for c in saved_cols if c not in ("__bid", "__bvec", "__bcode")
    ]
    if attr_cols is None:
        attr_cols = saved_attrs
    coded_new = ivfpq_encode(
        new_rows, arrays["coarse"], arrays["codebook"], id_col, vec_col, attr_cols
    )
    new_cols = [c for c in coded_new.columns if c != "cluster_id"]
    if sorted(new_cols) != sorted(saved_cols):
        raise ValueError(
            f"ivfpq_append schema mismatch: saved codes have columns "
            f"{sorted(saved_cols)}, new batch encodes {sorted(new_cols)}; "
            f"pass attr_cols matching the saved index"
        )
    (
        coded_new.repartition("cluster_id")
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(f"{path}/codes")
    )


def ivfpq_load(spark, path: str) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """(coarse, codebook, coded) from `ivfpq_save` output. The coded
    DataFrame is lazy: a subsequent probe-pruned search reads only the
    probed cluster_id partitions."""
    arrays = np.load(f"{path}/arrays.npz")
    raw = spark.read.parquet(f"{path}/codes")
    head = ["cluster_id", "__bid", "__bvec", "__bcode"]
    coded = raw.select(*head, *[c for c in raw.columns if c not in head])
    return arrays["coarse"], arrays["codebook"], coded




#: Entries of one query block's float64 rough accumulator in adc_shortlist
#: (256 MB): the batch's queries are scored in blocks of this many
#: entries over the Arrow batch's rows.
_ADC_BLOCK_ENTRIES = 1 << 25


def adc_luts(codebook: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(n, m, ksub) ADC tables of the rows of `x` (n, dim): the query batch
    for flat PQ, its residuals against one coarse cell for IVF-PQ.
    lut[i, j, c] = ||x_ij − C_j[c]||², expanded as |C_j[c]|² − 2·x_ij·C_j[c]
    + |x_ij|²."""
    m, ksub, dsub = codebook.shape
    luts = np.empty((x.shape[0], m, ksub), dtype=np.float64)
    for j in range(m):
        cb = codebook[j]
        xs = x[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            (cb * cb).sum(axis=1)[None, :]
            - 2.0 * (xs @ cb.T)
            + (xs * xs).sum(axis=1)[:, None]
        )
    return luts


def adc_shortlist(
    luts: np.ndarray,
    q_ids: np.ndarray,
    codes: np.ndarray,
    b_ids: np.ndarray,
    r: int,
) -> Iterator[pd.DataFrame]:
    """The ADC scorer of both PQ scans: the rough distance
    Σ_j luts[q, j, codes[b, j]] of every (query, coded row) pair, cut to a
    local top-R per query. Yields (query_id, neighbor_id, __rough) frames.

    The cut is index/search.py::local_cut, the one of the RaBitQ Arrow
    plan: identical codes tie exactly, and the rows tied at the R-th value
    are all kept, so the downstream top-R on (rough, neighbor_id) returns
    the same shortlist whatever rows share an Arrow batch or a partition.

    Kernel by ksub (PLAN.md, Round 7, part 8): at ksub ≤ 32 the whole ADC
    is ONE one-hot GEMM per query block (the FAISS PQx4fs regime, 3-32×
    over per-subspace gathers at ksub 16); above it, the 256× flop blow-up
    loses 6×, and m gathers from the (m, ksub, nq) transposed LUT read one
    contiguous row per code (2.9-3.9× over the column gather at m 16,
    ksub 256). Queries are blocked so the accumulator stays ≤ 256 MB."""
    nq, m, ksub = luts.shape
    rows = codes.shape[0]
    onehot = None
    if ksub <= 32:
        onehot = np.zeros((rows, m * ksub), dtype=np.float64)
        onehot[np.arange(rows)[:, None], codes + ksub * np.arange(m)] = 1.0
    qblock = max(1, _ADC_BLOCK_ENTRIES // max(rows, 1))
    for lo in range(0, nq, qblock):
        blk = luts[lo : lo + qblock]
        if onehot is not None:
            acc = blk.reshape(len(blk), -1) @ onehot.T
        else:
            lut_t = np.ascontiguousarray(blk.transpose(1, 2, 0))
            acc_t = np.zeros((rows, len(blk)), dtype=np.float64)
            for j in range(m):
                acc_t += lut_t[j][codes[:, j]]
            acc = acc_t.T
        qi, bi = local_cut(acc, r)
        yield pd.DataFrame(
            {
                "query_id": q_ids[lo + qi],
                "neighbor_id": b_ids[bi],
                "__rough": acc[qi, bi],
            }
        )


_ROUGH_SCHEMA = "query_id bigint, neighbor_id bigint, __rough double"


def _batch_codes(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(codes (rows, m) int64, ids int64) of a coded-row batch."""
    return (
        np.vstack(pdf["__bcode"].values).astype(np.int64),
        pdf["__bid"].to_numpy(np.int64),
    )


def _query_batch(
    queries: DataFrame, query_id: str, query_vec: str, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """The query batch on the driver as (int64 ids, (nq, dim) float64):
    ONE collect, bounded by vecstore.QUERY_MATRIX_MAX_BYTES."""
    pdf = collect_queries(
        queries, query_id, query_vec, 8 * dim, vecstore.QUERY_MATRIX_MAX_BYTES
    )
    if pdf is None:
        raise ValueError(
            f"the PQ query batch's float64 (nq, {dim}) matrix passes "
            "vecstore.QUERY_MATRIX_MAX_BYTES; search it in smaller batches"
        )
    return (
        pdf[query_id].to_numpy(np.int64),
        query_matrix(pdf[query_vec].to_numpy(), dim),
    )


def _shortlist_topk(
    rough: DataFrame,
    r: int,
    k: int,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    coded_base: DataFrame,
    vec_store,
) -> DataFrame:
    """Global top-R of the scans' local cuts on (rough, neighbor_id), then
    the exact rerank and final top-k."""
    short = topk_per_group(
        rough,
        ["query_id"],
        [F.col("__rough").asc(), F.col("neighbor_id").asc()],
        r,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )
    return exact_topk(short, qv, coded_rerank_base(coded_base, vec_store), k)


def ivfpq_search(
    queries: DataFrame,
    coded_base: DataFrame,
    k: int,
    coarse: np.ndarray,
    codebook: np.ndarray,
    nprobe: int = 8,
    shortlist: int = 64,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    predicate: Column | None = None,
    vec_store=None,
) -> DataFrame:
    """IVF-PQ k-NN. The driver collects the query batch (integer ids,
    bounded by vecstore.QUERY_MATRIX_MAX_BYTES) and picks each query's
    `nprobe` nearest coarse cells. The codes scan is filtered to the
    probed cells (cluster_id partition pruning on a saved index) and
    repartitioned by cluster_id, so each task builds a cell's residual
    LUTs (q − centroid) once per batch for the queries probing it, and
    adc_shortlist scores the cell's codes. Shortlist → exact rerank →
    top-k; with nprobe = n_clusters and shortlist ≥ |base| the output
    equals brute force bit-for-bit (the oracle anchor).

    Ships query vectors, not LUTs: a plan that materializes one m·ksub
    LUT per (query, probe) is O(nq × nprobe × m × ksub) bytes and killed
    an 8 GB driver at nq=1000, nprobe=62, m=32 (PLAN.md, IVF-PQ scale
    probe)."""
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    if predicate is not None:
        # metadata-filtered ANN: the predicate restricts the CODES SCAN
        # before any scoring (attrs ride the coded rows, ivfpq_encode
        # attr_cols) — on a saved index this composes with cluster_id
        # partition pruning into one pruned, filtered Parquet read. With
        # exhaustive settings the result provably equals brute force over
        # the filtered base.
        coded_base = coded_base.filter(predicate)
    q_ids, q_mat = _query_batch(queries, query_id, query_vec, coarse.shape[1])
    nprobe = min(nprobe, coarse.shape[0])
    cd = (
        (q_mat * q_mat).sum(axis=1)[:, None]
        - 2.0 * (q_mat @ coarse.T)
        + (coarse * coarse).sum(axis=1)[None, :]
    )
    probes = np.argpartition(cd, nprobe - 1, axis=1)[:, :nprobe]
    cell_queries = {
        int(c): np.flatnonzero((probes == c).any(axis=1)) for c in np.unique(probes)
    }
    if nprobe < coarse.shape[0]:
        coded_base = coded_base.filter(cluster_filter(cell_queries))
    bc = spark.sparkContext.broadcast((q_ids, q_mat, cell_queries))
    r = max(shortlist, k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, cells = bc.value
        for pdf in batches:
            for c, grp in pdf.groupby("cluster_id"):
                qidx = cells.get(int(c))
                if qidx is None:
                    continue
                luts = adc_luts(codebook, mat[qidx] - coarse[int(c)][None, :])
                yield from adc_shortlist(luts, ids[qidx], *_batch_codes(grp), r)

    # cells contiguous per task: one small shuffle of the CODES (m ints +
    # id per row) so each cell's LUTs are built once per Arrow batch
    rough = (
        coded_base.select("cluster_id", "__bid", "__bcode")
        .repartition(spark.sparkContext.defaultParallelism, "cluster_id")
        .mapInPandas(score, _ROUGH_SCHEMA)
    )
    return _shortlist_topk(
        rough, r, k, queries, query_id, query_vec, coded_base, vec_store
    )


def pq_search(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    codebook: np.ndarray,
    shortlist: int = 64,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
    coded_base: DataFrame | None = None,
    vec_store=None,
) -> DataFrame:
    """Two-phase PQ k-NN: ADC shortlist on m-byte codes → exact rerank.

    Pass `coded_base` (from `pq_encode`, persisted) to amortize encoding
    across query batches — the serving configuration. Output schema matches
    `knn_exact`: (query_id, neighbor_id, dist, rank).

    The driver collects the query batch (integer ids, bounded by
    vecstore.QUERY_MATRIX_MAX_BYTES) and broadcasts its (nq, m, ksub) LUTs;
    each base partition runs adc_shortlist over its Arrow batches. Only
    the local cuts shuffle; the coded base never moves. Measured 1M × 256
    (PLAN.md, Round 4, part 1): 42.3 s per 1000 queries at shortlist 64,
    where m element_at LUT lookups per (row, query) in JVM codegen took
    ~1,381 s. With shortlist ≥ |base| the output is bit-identical to brute
    force."""
    if coded_base is None:
        coded_base = pq_encode(base, codebook, base_id, base_vec)
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    m, _, dsub = codebook.shape
    q_ids, q_mat = _query_batch(queries, query_id, query_vec, m * dsub)
    bc = spark.sparkContext.broadcast((q_ids, adc_luts(codebook, q_mat)))
    r = max(shortlist, k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, luts = bc.value
        for pdf in batches:
            if not pdf.empty:
                yield from adc_shortlist(luts, ids, *_batch_codes(pdf), r)

    slim = coded_base.select("__bid", "__bcode")
    par = spark.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < par:
        slim = slim.repartition(par)
    return _shortlist_topk(
        slim.mapInPandas(score, _ROUGH_SCHEMA),
        r, k, queries, query_id, query_vec, coded_base, vec_store,
    )
