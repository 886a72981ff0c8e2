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
Search:  asymmetric distance computation (ADC). Each query precomputes a
         flattened LUT of length m·ksub (squared distance from its j-th
         subvector to every centroid of subspace j — numpy on the tiny
         query side). The hot base × query cross join then scores

             d_hat(q, b) = Σ_j LUT[j·ksub + codes[j]]

         as `m` unrolled element_at lookups — pure JVM codegen, no Python
         in the per-pair path (the same unrolling lesson as
         sq8_rough_dist_expr). Top-R shortlist per query → exact
         double-fold rerank → final top-k.

Exactness contract: with shortlist ≥ |base| the rough ADC phase is a
permutation and the output equals brute-force `knn_exact` bit-for-bit
(the rerank recomputes every distance with the deterministic fold) — that
configuration is the DuckDB oracle anchor; bounded shortlists are the
scale path, recall asserted in tests/test_pq.py.

Scale shape: codes are m ints/row (vs d doubles) — the coded base scan
reads ~m/(8·d)-th of the raw bytes; the query batch plus LUTs broadcast;
only O(nq × R) shortlist rows shuffle. At 1000 executors the base never
moves, exactly like the SQ8 and IVF paths.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from rabitq_spark.index.vecstore import exact_topk
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


def pq_lut(
    queries: DataFrame,
    codebook: np.ndarray,
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """(query_id, __qvec, __lut) with __lut the flattened m·ksub ADC table:
    __lut[j·ksub + c] = ||q_j − C_j[c]||². Query batches are small; this is
    the only Arrow hop in the search path."""
    m, ksub, dsub = codebook.shape
    cb = codebook
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]
    schema = StructType(
        [
            StructField("query_id", queries.schema[query_id].dataType),
            StructField("__qvec", queries.schema[query_vec].dataType),
            StructField("__lut", ArrayType(DoubleType())),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            q = np.asarray(list(pdf["__v"]), dtype=np.float64)
            luts: list[np.ndarray] = []
            for row in q:
                lut = np.empty(m * ksub, dtype=np.float64)
                for j in range(m):
                    qs = row[j * dsub : (j + 1) * dsub]
                    lut[j * ksub : (j + 1) * ksub] = (
                        cnorm[j] - 2.0 * (cb[j] @ qs) + (qs @ qs)
                    )
                luts.append(lut)
            yield pd.DataFrame(
                {"query_id": pdf["__i"], "__qvec": pdf["__v"], "__lut": luts}
            )

    return queries.select(
        F.col(query_id).alias("__i"), F.col(query_vec).alias("__v")
    ).mapInPandas(build, schema)


def pq_adc_expr(code: Column | str, lut: Column | str, m: int, ksub: int) -> Column:
    """Σ_j lut[j·ksub + code[j]] unrolled to m element_at lookups — the
    whole ADC estimator stays inside whole-stage codegen."""
    code = F.col(code) if isinstance(code, str) else code
    lut = F.col(lut) if isinstance(lut, str) else lut
    total: Column | None = None
    for j in range(m):
        term = F.element_at(lut, code[j] + F.lit(j * ksub + 1))
        total = term if total is None else total + term
    return F.lit(0.0) if total is None else total


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
    broadcast_probes: bool | None = None,
    broadcast_max_bytes: int = 256 * 1024 * 1024,
    impl: str = "jvm",
    predicate: Column | None = None,
    vec_store=None,
) -> DataFrame:
    """IVF-PQ k-NN: per query, probe the `nprobe` nearest coarse cells;
    each probe carries a residual ADC LUT for (q − centroid), so the hot
    cluster-keyed join scores codes with the same m unrolled element_at
    lookups as flat PQ — only rows in probed cells are ever touched (at a
    partitioned serving table that is a partition-pruned scan). Shortlist →
    exact rerank → top-k; with nprobe = n_clusters and shortlist ≥ |base|
    the output equals brute force bit-for-bit (the oracle anchor)."""
    m, ksub, dsub = codebook.shape
    cb, co = codebook, coarse
    nprobe = min(nprobe, co.shape[0])
    if predicate is not None:
        # metadata-filtered ANN: the predicate restricts the CODES SCAN
        # before any scoring (attrs ride the coded rows, ivfpq_encode
        # attr_cols) — on a saved index this composes with cluster_id
        # partition pruning into one pruned, filtered Parquet read. With
        # exhaustive settings the result provably equals brute force over
        # the filtered base.
        coded_base = coded_base.filter(predicate)
    if impl == "arrow":
        return _ivfpq_search_arrow(
            queries, coded_base, k, coarse, codebook, nprobe,
            max(shortlist, k), query_id, query_vec, vec_store=vec_store,
        )
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]
    conorm = (co * co).sum(axis=1)
    schema = StructType(
        [
            StructField("query_id", queries.schema[query_id].dataType),
            StructField("cluster_id", IntegerType()),
            StructField("__qvec", queries.schema[query_vec].dataType),
            StructField("__lut", ArrayType(DoubleType())),
        ]
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for qid, qv in zip(pdf["__i"], pdf["__v"]):
                q = np.asarray(qv, dtype=np.float64)
                cd = conorm - 2.0 * (co @ q) + (q @ q)
                cells = np.argpartition(cd, min(nprobe, len(cd)) - 1)[:nprobe]
                out_lut = []
                for c in cells:
                    r = q - co[c]
                    lut = np.empty(m * ksub, dtype=np.float64)
                    for j in range(m):
                        rs = r[j * dsub : (j + 1) * dsub]
                        lut[j * ksub : (j + 1) * ksub] = (
                            cnorm[j] - 2.0 * (cb[j] @ rs) + (rs @ rs)
                        )
                    out_lut.append(lut)
                yield pd.DataFrame(
                    {
                        "query_id": [qid] * len(cells),
                        "cluster_id": cells.astype(np.int32),
                        "__qvec": [qv] * len(cells),
                        "__lut": out_lut,
                    }
                )

    probe_df = queries.select(
        F.col(query_id).alias("__i"), F.col(query_vec).alias("__v")
    ).mapInPandas(probes, schema)
    # materialize once: referenced by the rough join AND the rerank
    probe_df = probe_df.localCheckpoint(eager=True)
    if nprobe < co.shape[0]:
        # static partition pruning: the probed cell set is tiny (≤ nq ×
        # nprobe ids) — an IN-filter on the scan side prunes cluster_id
        # partitions of a saved index before any join runs, same as the
        # RaBitQ search path (index/search.py). Collecting it reads the
        # already-checkpointed probe table, not the query pipeline.
        cells = [
            r["cluster_id"]
            for r in probe_df.select("cluster_id").distinct().collect()
        ]
        coded_base = coded_base.filter(F.col("cluster_id").isin(cells))
    if broadcast_probes is None:
        # each probe row carries an m·ksub-double LUT (~64 KB at m=32,
        # ksub=256); a large query batch × nprobe makes the probe table far
        # too big to broadcast — the count on the checkpointed probe table
        # is a local scan, and past the byte budget the rough join flips to
        # a shuffle keyed by cluster_id (the J2 dispatch of the RaBitQ
        # path, index/search.py)
        lut_bytes = m * ksub * 8
        broadcast_probes = probe_df.count() * lut_bytes <= broadcast_max_bytes
    probe_sel = probe_df.select("query_id", "cluster_id", "__lut")
    rough = coded_base.join(
        F.broadcast(probe_sel) if broadcast_probes else probe_sel,
        "cluster_id",
    ).select(
        "query_id",
        F.col("__bid").alias("neighbor_id"),
        pq_adc_expr("__bcode", "__lut", m, ksub).alias("__rough"),
    )
    short = topk_per_group(
        rough,
        ["query_id"],
        [F.col("__rough").asc(), F.col("neighbor_id").asc()],
        max(shortlist, k),
    ).select("query_id", "neighbor_id")
    qv = probe_df.select("query_id", "__qvec").dropDuplicates(["query_id"])
    return exact_topk(short, qv, coded_rerank_base(coded_base, vec_store), k)


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
    impl: str = "jvm",
    vec_store=None,
) -> DataFrame:
    """Two-phase PQ k-NN: ADC shortlist on m-byte codes → exact rerank.

    Pass `coded_base` (from `pq_encode`, persisted) to amortize encoding
    across query batches — the serving configuration. Output schema matches
    `knn_exact`: (query_id, neighbor_id, dist, rank).

    impl="jvm": the rough phase is m unrolled element_at lookups in
    whole-stage codegen over a broadcast of per-query LUT rows. Right for
    moderate batches and small m; the per-(row, query) JVM cost is m ops.
    impl="arrow": the rough phase is Arrow-batched numpy — per base
    partition, LUT[q, j, codes[:, j]] gathers accumulated across j, local
    top-R, global top-R. Measured 1M × 256 (PLAN.md, IVF-PQ scale probe): the
    columnar gather path is the one that competes with the BLAS brute
    force; per-row JVM scans (SQ8 at 345 s/100 q, and jvm-ADC in
    proportion) lose at that density. Same results either way — the exact
    rerank makes the output impl-independent for any fixed shortlist
    content, and bit-identical to brute force when shortlist ≥ |base|."""
    m, ksub, _ = codebook.shape
    if coded_base is None:
        coded_base = pq_encode(base, codebook, base_id, base_vec)
    if impl == "arrow":
        short, qv = _pq_arrow_shortlist(
            queries, coded_base, codebook, max(shortlist, k), query_id, query_vec
        )
    else:
        q = pq_lut(queries, codebook, query_id, query_vec)
        rough = coded_base.crossJoin(
            F.broadcast(q.select("query_id", "__lut"))
        ).select(
            "query_id",
            F.col("__bid").alias("neighbor_id"),
            pq_adc_expr("__bcode", "__lut", m, ksub).alias("__rough"),
        )
        short = topk_per_group(
            rough,
            ["query_id"],
            [F.col("__rough").asc(), F.col("neighbor_id").asc()],
            max(shortlist, k),
        ).select("query_id", "neighbor_id")
        qv = q.select("query_id", "__qvec")
    return exact_topk(short, qv, coded_rerank_base(coded_base, vec_store), k)


def _pq_arrow_shortlist(
    queries: DataFrame,
    coded_base: DataFrame,
    codebook: np.ndarray,
    shortlist: int,
    query_id: str,
    query_vec: str,
) -> tuple[DataFrame, DataFrame]:
    """(shortlist (query_id, neighbor_id), query-vector DF) via the
    columnar ADC scan: queries collect to the driver (the same contract as
    knn_exact_fast — a query BATCH, not the corpus), their LUT tensor
    (nq, m, ksub) broadcasts, and each base partition accumulates m
    row-indexed gathers then keeps its local top-R per query. The shuffle
    carries O(nq × R × n_partitions) rows; the coded base never moves."""
    import pandas as _pd

    m, ksub, dsub = codebook.shape
    cb = codebook
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]
    spark = queries.sparkSession
    qpd = queries.select(query_id, query_vec).toPandas()
    q_ids = np.asarray(qpd[query_id].values, dtype=np.int64)
    q_mat = np.ascontiguousarray(np.vstack(qpd[query_vec].values).astype(np.float64))
    nq = q_mat.shape[0]
    luts = np.empty((nq, m, ksub), dtype=np.float64)
    for j in range(m):
        qs = q_mat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            cnorm[j][None, :]
            - 2.0 * (qs @ cb[j].T)
            + (qs * qs).sum(axis=1)[:, None]
        )
    bc = spark.sparkContext.broadcast((q_ids, luts))

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, lut_b = bc.value
        nq_b, m_b, ksub_b = lut_b.shape
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = np.asarray(pdf["__bid"].values, dtype=np.int64)
            C = np.vstack(pdf["__bcode"].values).astype(np.int64)
            rows = C.shape[0]
            kk = min(shortlist, rows)
            # fastscan regime (4-bit PQ, FAISS PQx4fs lineage): at small
            # ksub the ADC is ONE one-hot GEMM per query block — measured
            # 3-32× over the per-subspace gathers at ksub=16, while at
            # ksub=256 the 256× flop blow-up loses 6× (so gathers stay the
            # 8-bit path). Same LUT values; float64 summation order
            # differs (BLAS), exhaustive configs remain provably exact.
            onehot = None
            if ksub_b <= 32:
                onehot = np.zeros((rows, m_b * ksub_b), dtype=np.float64)
                flat = C + ksub_b * np.arange(m_b, dtype=np.int64)[None, :]
                onehot[np.arange(rows)[:, None], flat] = 1.0
            # block queries so the (nq, rows) accumulator stays ≤ ~256 MB
            qblock = max(1, 33_554_432 // max(rows, 1))
            for lo in range(0, nq_b, qblock):
                hi = min(lo + qblock, nq_b)
                if onehot is not None:
                    acc = lut_b[lo:hi].reshape(hi - lo, -1) @ onehot.T
                    part = np.argpartition(acc, kk - 1, axis=1)[:, :kk]
                    rws = np.repeat(np.arange(hi - lo), kk)
                    cols = part.ravel()
                    yield _pd.DataFrame(
                        {
                            "query_id": ids_b[lo + rws],
                            "neighbor_id": b_ids[cols],
                            "__rough": acc[rws, cols],
                        }
                    )
                    continue
                # ksub=256 regime (u8 codes, the common FAISS-PQ shape):
                # TRANSPOSED-LUT gather — lay the LUT out (m, ksub, nq) so
                # each code gathers a CONTIGUOUS nq-length row instead of
                # a strided column (memcpy-friendly; measured 2.9-3.9×
                # over the column gather at m=16 ksub=256 rows=8192,
                # nq∈{32,256}). Accumulation order over j is unchanged,
                # so every float64 sum is bit-identical to the column
                # gather's.
                lutT = np.ascontiguousarray(
                    lut_b[lo:hi].transpose(1, 2, 0)
                )  # (m, ksub, qb) — ~m·ksub·qb·8 bytes, trivial
                accT = np.zeros((rows, hi - lo), dtype=np.float64)
                for j in range(m_b):
                    accT += lutT[j][C[:, j]]
                part = np.argpartition(accT, kk - 1, axis=0)[:kk, :]
                vals = np.take_along_axis(accT, part, axis=0)
                qidx = np.broadcast_to(
                    np.arange(hi - lo), (kk, hi - lo)
                ).ravel()
                yield _pd.DataFrame(
                    {
                        "query_id": ids_b[lo + qidx],
                        "neighbor_id": b_ids[part.ravel()],
                        "__rough": vals.ravel(),
                    }
                )

    par = spark.sparkContext.defaultParallelism
    slim = coded_base.select("__bid", "__bcode")
    if slim.rdd.getNumPartitions() < par:
        slim = slim.repartition(par)
    local = slim.mapInPandas(
        score_partition, "query_id bigint, neighbor_id bigint, __rough double"
    )
    short = topk_per_group(
        local,
        ["query_id"],
        [F.col("__rough").asc(), F.col("neighbor_id").asc()],
        shortlist,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )
    return short, qv


def _ivfpq_search_arrow(
    queries: DataFrame,
    coded_base: DataFrame,
    k: int,
    coarse: np.ndarray,
    codebook: np.ndarray,
    nprobe: int,
    shortlist: int,
    query_id: str,
    query_vec: str,
    vec_store=None,
) -> DataFrame:
    """Large-batch IVF-PQ: ship QUERY VECTORS (2 KB each), not LUTs (64 KB
    per probe row) — the materialized-LUT plan is O(nq × nprobe × m × ksub)
    bytes and killed an 8 GB driver at nq=1000, nprobe=62, m=32
    (PLAN.md, IVF-PQ scale probe). Here the driver computes only the probe
    ASSIGNMENT (nq × n_clusters argpartition — trivial), broadcasts
    (query ids, query matrix, cell → query-index lists, codebooks), and
    each scoring task builds the residual LUT per (cell, probing-queries)
    on the fly, gathers rough distances columnar, and keeps a local top-R
    per (cell, query). Shuffle = O(Σ_cell probes(cell) × R) candidate rows.
    Exact rerank restores exactness exactly as the jvm path."""
    import pandas as _pd

    m, ksub, dsub = codebook.shape
    cb, co = codebook, coarse
    spark = queries.sparkSession
    qpd = queries.select(query_id, query_vec).toPandas()
    q_ids = np.asarray(qpd[query_id].values, dtype=np.int64)
    q_mat = np.ascontiguousarray(np.vstack(qpd[query_vec].values).astype(np.float64))
    cd = (
        (q_mat * q_mat).sum(axis=1)[:, None]
        - 2.0 * (q_mat @ co.T)
        + (co * co).sum(axis=1)[None, :]
    )
    nq = q_mat.shape[0]
    npb = min(nprobe, co.shape[0])
    probe_cells = np.argpartition(cd, npb - 1, axis=1)[:, :npb]
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(nq):
        for c in probe_cells[qi]:
            cell_to_q.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, {c: np.asarray(v) for c, v in cell_to_q.items()})
    )
    cnorm = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b, cmap = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            for c, grp in pdf.groupby("cluster_id"):
                qidx = cmap.get(int(c))
                if qidx is None:
                    continue
                C = np.vstack(grp["__bcode"].values).astype(np.int64)
                b_ids = np.asarray(grp["__bid"].values, dtype=np.int64)
                rows = C.shape[0]
                resid = mat_b[qidx] - co[int(c)][None, :]
                lut = np.empty((len(qidx), m, ksub), dtype=np.float64)
                for j in range(m):
                    rs = resid[:, j * dsub : (j + 1) * dsub]
                    lut[:, j, :] = (
                        cnorm[j][None, :]
                        - 2.0 * (rs @ cb[j].T)
                        + (rs * rs).sum(axis=1)[:, None]
                    )
                # transposed-LUT gather (see _pq_arrow_shortlist): each
                # code reads a contiguous nq-length row; same j-order
                # accumulation, bit-identical sums to the column gather
                lutT = np.ascontiguousarray(lut.transpose(1, 2, 0))
                accT = np.zeros((rows, len(qidx)), dtype=np.float64)
                for j in range(m):
                    accT += lutT[j][C[:, j]]
                kk = min(shortlist, rows)
                part = np.argpartition(accT, kk - 1, axis=0)[:kk, :]
                vals = np.take_along_axis(accT, part, axis=0)
                qcols = np.broadcast_to(
                    np.arange(len(qidx)), (kk, len(qidx))
                ).ravel()
                yield _pd.DataFrame(
                    {
                        "query_id": ids_b[qidx][qcols],
                        "neighbor_id": b_ids[part.ravel()],
                        "__rough": vals.ravel(),
                    }
                )

    # cells contiguous per task: one small shuffle of the CODES (m ints +
    # id per row) so each cell's LUT is built once, not once per Arrow
    # batch that happens to contain a slice of it
    slim = coded_base.select("cluster_id", "__bid", "__bcode").repartition(
        spark.sparkContext.defaultParallelism, "cluster_id"
    )
    local = slim.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, __rough double"
    )
    short = topk_per_group(
        local,
        ["query_id"],
        [F.col("__rough").asc(), F.col("neighbor_id").asc()],
        shortlist,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )
    return exact_topk(short, qv, coded_rerank_base(coded_base, vec_store), k)
