"""Similarity join: table × table top-k nearest neighbors under squared L2 —
the reference's J1/J2/J3 pipeline generalized from a query batch to a full
table (SURVEY.md §2.5, §7 phase 6).

The left table becomes the query side of the IVF+RaBitQ batch search; the
right table is indexed once. Both sides scale horizontally: the index is
partitioned by cluster_id, the probe table shuffles by cluster_id, and the
only per-pair work that survives past the quantized screen is the exact
rerank of the top-R shortlist. No all-pairs materialization at any point —
candidate volume per left row is bounded by the probed posting lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.functions import scratch as _scratch
from rabitq_spark.index.build import build_index
from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.search import search


def _base_only_model(right: DataFrame, right_id: str, right_vec: str):
    """The slice of a RaBitQModel the exhaustive path actually needs —
    original dim + the zero-padded exact base table — without paying for
    rotation/quantization that exhaustive search never reads."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    dim = len(right.select(right_vec).first()[0])
    dim_pad = ((dim + 63) // 64) * 64
    base = right.select(
        F.col(right_id).alias("orig_id"), F.col(right_vec).alias("vec")
    )
    if dim_pad != dim:
        base = base.withColumn(
            "vec",
            F.concat(
                "vec", F.array_repeat(F.lit(0.0).cast("float"), dim_pad - dim)
            ),
        )
    return SimpleNamespace(dim=dim, base_df=base)


def similarity_join(
    left: DataFrame,
    right: DataFrame | RaBitQModel,
    k: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    config: RaBitQConfig | None = None,
    nprobe: int | None = None,
    overfetch: int | None = None,
    exhaustive: bool = False,
    max_query_block: int = 500_000,
    left_count: int | None = None,
) -> DataFrame:
    """Top-k right neighbors for every left row.

    Returns (query_id = left id, neighbor_id = right id, dist, rank).
    `exhaustive=True` probes every cluster and reranks every candidate —
    exact results (the oracle configuration); otherwise nprobe/overfetch
    trade recall for work exactly like batch search.

    The exhaustive path holds one query block on the driver at a time (the
    BLAS shortlist broadcasts the query matrix, analogous to the reference
    holding the query set in RAM — crates/cli/src/main.rs:53-61). Left
    tables larger than `max_query_block` are processed in hash-partitioned
    blocks so driver memory stays bounded no matter how large the left
    table grows.
    """
    if isinstance(right, RaBitQModel):
        model = right
    elif exhaustive:
        # exhaustive only touches the exact base table — skip the rotation/
        # quantization build entirely (measured ~5 s of pure waste at 20k
        # rows) and synthesize the padded base the way build_index would
        model = _base_only_model(right, right_id, right_vec)
    else:
        # bits_per_dim=4 default: a similarity join issues one query per LEFT
        # row, so search cost dwarfs the one-time build — the regime where
        # extended multi-bit codes pay (scripts/multibit_probe.py: 2.4×
        # faster search at recall 1.0 vs 0.97 at 1M × 256)
        model = build_index(
            right,
            config or RaBitQConfig(bits_per_dim=4),
            id_col=right_id,
            vec_col=right_vec,
        )
    queries = left.select(left_id, left_vec).withColumnsRenamed(
        {left_id: "query_id", left_vec: "qvec"}
    )
    if exhaustive:
        # Exhaustive == exact brute force; the BLAS-shortlist + fold-refine
        # plan gives identical (bit-exact) results without pushing every
        # candidate through the quantized scoring path — at full-table query
        # load the N² rough-scoring stage would dominate for no benefit.
        from pyspark.sql import functions as F

        from rabitq_spark.functions.vector import pad_to_multiple
        from rabitq_spark.operators.knn import knn_exact_refined

        padded_q = queries.select(
            "query_id", pad_to_multiple(F.col("qvec"), 64, model.dim).alias("qvec")
        )
        if left_count is None:
            # Bounded dispatch probe: reads at most max_query_block + 1 rows
            # (round-2 verdict: the previous unconditional .count() was a
            # full-scan job in every measured call). Only the rare oversized
            # case pays the exact count needed to size the blocks.
            left_count = padded_q.limit(max_query_block + 1).count()
            if left_count > max_query_block:
                left_count = padded_q.count()
        n_blocks = max(1, -(-left_count // max_query_block))
        if n_blocks == 1:
            return knn_exact_refined(
                padded_q, model.base_df, k,
                query_id="query_id", query_vec="qvec",
                base_id="orig_id", base_vec="vec",
            )
        # Blocked execution: each block collects ≤ max_query_block query
        # rows to the driver for its GEMM broadcast; blocks are disjoint by
        # a deterministic hash of query_id, and per-query top-k is
        # independent across queries so the union is exact. Blocks are
        # materialized SEQUENTIALLY (localCheckpoint) and each block's query
        # broadcast is destroyed before the next is built, so at most one
        # block's query matrix exists on the driver/executors at any moment
        # — the output (nq × k rows) is what accumulates, not the inputs.
        parts = []
        for i in range(n_blocks):
            registry: list = []
            block = knn_exact_refined(
                padded_q.filter(
                    F.pmod(F.xxhash64("query_id"), F.lit(n_blocks)) == i
                ),
                model.base_df, k,
                query_id="query_id", query_vec="qvec",
                base_id="orig_id", base_vec="vec",
                bc_registry=registry,
            ).localCheckpoint(eager=True)
            for bc in registry:
                bc.destroy()
            parts.append(block)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    # a full-table query side makes the probe table |left| × nprobe rows:
    # search() builds it on the driver while it fits the driver cap, else
    # both join sides shuffle by cluster_id
    return search(model, queries, topk=k, nprobe=nprobe, overfetch=overfetch)


def grouped_similarity_join(
    df: DataFrame,
    group_col: str,
    id_col: str = "id",
    vec_col: str = "vec",
    k: int = 10,
    impl: str = "refined",
    margin: int = 8,
) -> DataFrame:
    """Namespace-scoped exact k-NN: for every row, the top-k nearest rows
    (squared L2, self excluded) sharing its `group_col` value — the
    partitioned / multi-tenant vector-search shape (per-namespace search,
    per-language near-neighbor graphs).

    Returns (group_col, query_id, neighbor_id, dist, rank).

    impl="refined" (default): per-group BLAS shortlist + bit-exact fold
    rerank — the knn_exact_refined pattern applied group-wise. ONE shuffle
    keyed by group feeds an Arrow-batched per-group GEMM that keeps only
    k+margin candidates per query (query rows blocked so the distance
    matrix stays bounded); the shortlist (|group| × (k+margin) rows total)
    is then re-scored with the deterministic l2_squared codegen fold and
    re-ranked, so emitted distances are bit-identical to the pair-join
    plan unless true neighbors k..k+margin are within GEMM rounding error
    (~1e-12 relative). Measured 120× on 10 × 2000-row groups: the
    pair-join materializes |group|² rows per group (40M at sf1.0) where
    the shortlist path streams them through BLAS.

    impl="pairs": the all-pairs equi-join plan (the oracle's literal
    shape) — group-keyed join, codegen fold, WindowGroupLimit. Work is
    quadratic within a group; fine for small namespaces, kept as the
    reference semantics and for the equivalence test.

    For corpus-sized groups, index each group instead (similarity_join
    per group), which trades the in-group quadratic for the IVF screen.
    """
    from pyspark.sql import functions as F

    from rabitq_spark.functions.vector import l2_squared
    from rabitq_spark.operators.topk import topk_per_group

    if impl == "pairs":
        left = df.select(
            F.col(group_col).alias("__g"),
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
        )
        right = df.select(
            F.col(group_col).alias("__g"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__nv"),
        )
        pairs = (
            left.join(right, "__g")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "__g",
                "query_id",
                "neighbor_id",
                l2_squared(F.col("__qv"), F.col("__nv")).alias("dist"),
            )
        )
        return topk_per_group(
            pairs,
            ["__g", "query_id"],
            [F.col("dist").asc(), F.col("neighbor_id").asc()],
            k,
        ).select(
            F.col("__g").alias(group_col),
            "query_id",
            "neighbor_id",
            "dist",
            "rank",
        )

    import numpy as np
    import pandas as pd

    from rabitq_spark._dist import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    ncand = k + margin
    max_entries = _scratch.BLOCK_ENTRIES
    slim = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__v"),
    )

    def shortlist(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"__g": pdf["__g"].iloc[:0], "query_id": [], "neighbor_id": []}
            )
        ids = np.asarray(pdf["query_id"].values, dtype=np.int64)
        mat = np.ascontiguousarray(np.vstack(pdf["__v"].values).astype(np.float64))
        sq = (mat * mat).sum(axis=1)
        kk = min(ncand, n - 1)
        out_q, out_n = [], []
        block = max(1, max_entries // max(n, 1))
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            d = sq[lo:hi, None] + sq[None, :] - 2.0 * (mat[lo:hi] @ mat.T)
            d[np.arange(lo, hi) - lo, np.arange(lo, hi)] = np.inf  # self
            part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
            out_q.append(np.repeat(ids[lo:hi], kk))
            out_n.append(ids[part.ravel()])
        g = pdf["__g"].iloc[0]
        qs = np.concatenate(out_q)
        return pd.DataFrame(
            {"__g": np.full(len(qs), g), "query_id": qs, "neighbor_id": np.concatenate(out_n)}
        )

    g_field = slim.schema["__g"].dataType.simpleString()
    short = slim.groupBy("__g").applyInPandas(
        shortlist, f"__g {g_field}, query_id long, neighbor_id long"
    )
    qv = slim.select("query_id", F.col("__v").alias("__qv"))
    nv = slim.select(
        F.col("query_id").alias("neighbor_id"), F.col("__v").alias("__nv")
    )
    scored = (
        short.join(nv, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "__g",
            "query_id",
            "neighbor_id",
            l2_squared(F.col("__qv"), F.col("__nv")).alias("dist"),
        )
    )
    return topk_per_group(
        scored,
        ["__g", "query_id"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        k,
    ).select(
        F.col("__g").alias(group_col), "query_id", "neighbor_id", "dist", "rank"
    )
