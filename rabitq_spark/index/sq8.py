"""SQ8 scalar-quantized shortlist search: an int8-per-dimension quantizer
family beside the RaBitQ binary codes (reference scope: src/rabitq.rs keeps
one quantizer; production vector engines ship SQ8 as the low-ceremony
alternative — 8 bits/dim, no rotation, no residual factors).

Scheme
------
Train:   per-dimension [lo_i, hi_i] over the base (one posexplode
         aggregation — dim rows out, nothing driver-heavy).
Encode:  b_i = clamp(round((x_i − lo_i) / w_i), 0, 255),  w_i = (hi_i−lo_i)/255
         — a pure Column transform; codes are array<int> (stored tinyint-like).
Search:  symmetric rough distance on quantized arrays, fully UNROLLED into
         scalar codegen terms (the same lesson as rough_distance_expr:
         zip_with+aggregate folds allocate per row and cap throughput):

             d_hat(q, b) = Σ_i ((q8_i − b_i) · w_i)²

         top-R shortlist per query (WindowGroupLimit) → exact double-fold
         rerank on the shortlist only → final top-k.

Exactness contract: with shortlist ≥ |base| the rough phase is a no-op
permutation and the output equals brute-force `knn_exact` bit-for-bit (the
rerank recomputes every distance with the deterministic fold) — that
configuration is the DuckDB oracle anchor; the bounded-shortlist form is the
scale path.

Scale shape: encode is one narrow scan (no shuffle); search broadcasts the
(small) quantized query batch, scans the coded base once, and shuffles only
O(nq × R) shortlist rows — the base never moves, same as the IVF path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rabitq_spark.index.pq import coded_rerank_base
from rabitq_spark.index.vecstore import exact_topk
from rabitq_spark.operators.topk import topk_per_group


def sq8_train(
    base: DataFrame,
    vec_col: str = "vec",
    max_sample_rows: int = 200_000,
) -> tuple[list[float], list[float]]:
    """Per-dimension [lo, hi] bounds: posexplode → groupBy(pos) min/max,
    over at most `max_sample_rows` rows — at 100 TB the full explode would
    shuffle n×dim rows for two numbers per dimension. Sampled bounds cost
    nothing in CORRECTNESS (encode clamps to [0, 255], the exact rerank
    recomputes true distances); out-of-sample extremes only soften rough
    ordering at the tails.

    The driver collects dim pairs of doubles. Degenerate dimensions
    (lo == hi) get width 1 so encode stays finite (code 0, zero distance
    contribution).
    """
    sample = base.limit(max_sample_rows) if max_sample_rows else base
    stats = (
        sample.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
        .orderBy("pos")
        .collect()
    )
    lo = [r["lo"] for r in stats]
    hi = [r["hi"] for r in stats]
    return lo, hi


def sq8_encode_expr(vec: Column | str, lo: list[float], hi: list[float]) -> Column:
    """Quantize a double array to int codes 0..255 — pure Column codegen.

    Uses the (element, index) two-parameter transform lambda deliberately
    (the index is what we want here; see tests/test_text_banding.py for the
    capture pitfall this API caused elsewhere).
    """
    inv = [255.0 / (h - l) if h > l else 0.0 for l, h in zip(lo, hi)]
    lo_lit = F.array(*[F.lit(v) for v in lo])
    inv_lit = F.array(*[F.lit(v) for v in inv])
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        vec,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x.cast("double") - F.element_at(lo_lit, i + 1))
                    * F.element_at(inv_lit, i + 1)
                ).cast("int"),
            ),
        ),
    )


def sq8_rough_dist_expr(
    base_codes: Column | str,
    query_codes: Column | str,
    lo: list[float],
    hi: list[float],
) -> Column:
    """Symmetric SQ8 distance estimate, unrolled to scalar codegen terms:
    Σ_i ((q8_i − b_i)·w_i)² with w_i a compile-time constant per dimension.
    """
    b = F.col(base_codes) if isinstance(base_codes, str) else base_codes
    q = F.col(query_codes) if isinstance(query_codes, str) else query_codes
    w2 = [((h - l) / 255.0) ** 2 if h > l else 0.0 for l, h in zip(lo, hi)]
    total: Column | None = None
    for i, wsq in enumerate(w2):
        if wsq == 0.0:
            continue
        d = (q[i] - b[i]).cast("double")
        term = d * d * F.lit(wsq)
        total = term if total is None else total + term
    return F.lit(0.0) if total is None else total


def sq8_search(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    lo: list[float],
    hi: list[float],
    shortlist: int = 64,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
    coded_base: DataFrame | None = None,
    vec_store=None,
) -> DataFrame:
    """Two-phase SQ8 k-NN: rough shortlist on int codes → exact rerank.

    Pass `coded_base` (from `sq8_encode(base)`) to reuse a persisted encoded
    table across batches; otherwise codes are derived inline in the scan.
    Output schema matches `knn_exact`: (query_id, neighbor_id, dist, rank).
    """
    if coded_base is None:
        coded_base = base.select(
            F.col(base_id).alias("__bid"),
            F.col(base_vec).alias("__bvec"),
            sq8_encode_expr(base_vec, lo, hi).alias("__bcode"),
        )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
        sq8_encode_expr(query_vec, lo, hi).alias("__qcode"),
    )
    rough = coded_base.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("__bid").alias("neighbor_id"),
        sq8_rough_dist_expr("__bcode", "__qcode", lo, hi).alias("__rough"),
    )
    short = topk_per_group(
        rough,
        ["query_id"],
        [F.col("__rough").asc(), F.col("neighbor_id").asc()],
        max(shortlist, k),
    ).select("query_id", "neighbor_id")
    return exact_topk(
        short,
        q.select("query_id", "__qvec"),
        coded_rerank_base(coded_base, vec_store),
        k,
    )
