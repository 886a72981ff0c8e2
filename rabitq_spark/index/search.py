"""Batch ANN search — the reference's 7-stage query lifecycle
(src/rabitq.rs:267-333) as one DataFrame program (SURVEY.md §3).

Where stages 1-4 run: a batch with integer query ids whose probe table
and float64 query block each fit _ARROW_MAX_PROBE_BYTES, the cap for one
copy held on the driver, is collected ONCE to the driver, where the
reference runs stages 1-4 too. Only a batch past that cap keeps the
executor path: a mapInPandas, a checkpoint and a count job for the probe
geometry (while nprobe·2 ≤ n_clusters), then the jvm join, both sides
shuffled by cluster_id. Stage 7 reads the driver's query matrix only
while it fits vecstore.QUERY_MATRIX_MAX_BYTES and its ids are unique
(_query_side); any other batch joins the query vectors back.

The planner: like the reference, a batch takes one decision per stage,
and search() and every search_adaptive wave take it in the same
function — the kernel and its index source in stage5_kernel (the Spark
kernel in choose_kernel: validation, coverage, a probe table not on the
driver, the floors), the index pruning in _pruning_set, and the tail of
stages 5-7 in _tail. range_search() shares stages 1-4 and the pruning
rule, then always runs the jvm join (_rough_candidates) and filters its
candidates at the radius instead of cutting a top-R. Filters apply to
the one index frame every source and kernel reads.

Where stages 5-7 run: an "auto" batch whose stages 6-7 fit the driver
(_driver_tail_fits: its query matrix is there, and its candidate and
base-row bounds hold) scores stage 5 there too, like the reference's
in-process index: score_clusters over a CSR view of the probed index rows
(model.CSRIndex) — the "driver" kernel. The rows are a small loaded
model's resident arrays (RaBitQModel.resident, read once by load()), at
no job, or else one collect of the pruned index rows, bounded at
_ARROW_MAX_PROBE_BYTES. Every other batch, and every forced "jvm" or
"arrow" request, runs stage 5 as a Spark plan and stages 6-7 on the
executor tail; the probe table broadcasts if and only if the driver
built it.

Stages:
  1-4. query prep (pad, rotate, probe selection, per-(query,cluster)
       residual quantization) — prepare_probe_block, one numpy function
       per Arrow batch's rows: on the driver (the probed-cluster geometry
       is then free), else in a mapInPandas with the rotation matrix +
       projected centroids broadcast. Emits the probe table: (query_id,
       cluster_id, y_c_dist_sq, lower_bound, delta, scalar_sum, qplanes).
  5.   rough scoring. The driver kernel: score_clusters, per probed
       cluster the D5 estimator in numpy (cluster_rough: one value GEMM,
       src/rabitq.rs:336-367) and a local top-R cut (local_cut). The
       executor tail's Spark plans, behind _candidates: the equi-join
       probes ⋈ index on cluster_id (a driver probe table broadcast, an
       executor one shuffled; index side partition-pruned by the probed
       cluster set) with the estimator as one SQL expression
       (whole-stage codegen) — _rough_candidates — or _fused_shortlist, a
       mapInArrow that runs score_clusters on each Arrow batch of the
       index with the driver probe table broadcast.
  6.   top-R rough candidates per query on (rough, orig_id) — the batch
       substitute for the sequential heap threshold (src/rerank.rs:62-114).
       The driver tail (_driver_tail) cuts the driver kernel's arrays with
       top_n in numpy — REPOSE's local top-R and one merge (PAPERS.md);
       the executor tail (_shortlist) cuts the stream with a
       WindowGroupLimit window.
  7.   exact rerank and the final top-k per query on (dist, neighbor_id),
       exact squared-L2 in double precision (vecstore.l2_fold). The driver
       tail reads each distinct shortlisted id's base row once — a gather
       from the resident base or a vec store, or one collect of base_df —
       folds every pair and ranks with top_n; it returns a local relation.
       The executor tail is vecstore.exact_topk, the one rerank of every
       other shortlist-then-exact plan: vec-store gather or base join,
       then a window top-k.

All kernels and both tails keep the same order and arithmetic, so their
frames are bit-identical (tests/test_driver_path.py).

Scale notes: a driver-tail batch runs no shuffle at all and moves each
probed index row and each shortlisted base row to the driver at most
once; a resident batch moves none. On the executor tail the only
shuffles are the two window top-ks, the rerank's base join when the
base does not fit a broadcast (a model with a vec store gathers
candidate rows instead) and, on the executor path, the cluster_id join.
A driver probe table moves to the index; the index moves to the driver
only through the driver scorer's bounded collect. Cluster-size skew is
handled by AQE skew-join splitting.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from rabitq_spark._dist import ensure_package_on_executors
from rabitq_spark.functions import scratch as _scratch
from rabitq_spark.functions.vector import pad_to_multiple
from rabitq_spark.index.rotation import apply_rot
from rabitq_spark.index.model import (
    CSRIndex,
    RaBitQModel,
    _list_matrix,
    factor_columns,
    sorted_gather,
)
from rabitq_spark.index import vecstore
from rabitq_spark.index.vecstore import (
    VecStore,
    collect_queries,
    exact_rerank,
    exact_topk,
    l2_fold,
    query_matrix,
)
from rabitq_spark.metrics import SearchMetrics
from rabitq_spark.operators.topk import topk_per_group

PROBE_SCHEMA = (
    "query_id bigint, cluster_id int, y_c_dist_sq float, lower_bound float, "
    "delta float, scalar_sum float, qplanes array<bigint>"
)


def quantize_probe_pairs(
    yp: "np.ndarray",
    cp: "np.ndarray",
    qi: "np.ndarray",
    ci: "np.ndarray",
    d2: "np.ndarray",
    bias: "np.ndarray",
    scalar: "np.float32",
    theta_log_dim: int,
) -> dict:
    """Stage-4 residual quantization for an EXPLICIT flat list of
    (query, cluster) pairs (P8/P9/P10, src/rabitq.rs:304-317) — the
    shared numpy core of prepare_probe_block and search_adaptive's
    probe waves. `yp` is the rotated padded query block, `cp` the
    projected centroids, `qi`/`ci` parallel index arrays selecting the
    pairs, `d2` the (nq, n_clusters) squared centroid distances. Every op
    is elementwise per pair. `qplanes` comes back as one (npairs,
    theta_log_dim·n_words) int64 array."""
    resid = (yp[qi] - cp[ci]).astype(np.float32)  # (npairs, dim_pad)
    lb = resid.min(axis=1).astype(np.float32)
    ub = resid.max(axis=1).astype(np.float32)
    delta = ((ub - lb) * scalar).astype(np.float32)
    with np.errstate(divide="ignore"):
        mult = np.where(delta > 0, np.float32(1.0) / delta, np.float32(0.0))
    qu = ((resid - lb[:, None]) * mult[:, None] + bias[None, :]).astype(
        np.uint8
    )
    scalar_sum = qu.sum(axis=1, dtype=np.uint32).astype(np.float32)
    y_c = d2[qi, ci].astype(np.float32)
    np.maximum(y_c, 0.0, out=y_c)
    return {
        "cluster_id": ci.astype(np.int32),
        "y_c_dist_sq": y_c,
        "lower_bound": lb,
        "delta": delta,
        "scalar_sum": scalar_sum,
        "qplanes": pack_planes(qu, theta_log_dim),
    }


def query_geometry(q, rot, cp: "np.ndarray") -> tuple:
    """Stages 1-3a for an (nq, dim) query block: P5 zero padding to the
    rotation's width (src/rabitq.rs:276-280), the rotation, and the J1
    squared distances to every projected centroid. Returns (yp, d2)."""
    q = np.asarray(q, dtype=np.float32)
    if q.shape[1] < cp.shape[1]:
        q = np.hstack(
            [q, np.zeros((q.shape[0], cp.shape[1] - q.shape[1]), np.float32)]
        )
    yp = apply_rot(q, rot).astype(np.float32)
    cp_sq = (cp**2).sum(axis=1)
    d2 = (yp**2).sum(axis=1)[:, None] - 2.0 * (yp @ cp.T) + cp_sq[None, :]
    return yp, d2


def prepare_probe_block(
    ids: "np.ndarray",
    q,
    rot,
    cp: "np.ndarray",
    bias: "np.ndarray",
    scalar: "np.float32",
    theta_log_dim: int,
    nprobe: int,
) -> dict:
    """Stages 1-4 for one query block, as numpy: rotate, pick the nprobe
    nearest centroids per query, quantize each (query, centroid) residual
    into theta_log_dim bit-planes (P8/P9/P10, src/rabitq.rs:304-317).
    Returns the probe table's columns (PROBE_SCHEMA order) as arrays, one
    row per (query, probed cluster). The executor mapInPandas and
    search()'s driver path both call it; an empty block gives empty
    columns."""
    yp, d2 = query_geometry(q, rot, cp)
    nq = yp.shape[0]
    nb = min(nprobe, cp.shape[0])
    probe_idx = np.argpartition(d2, nb - 1, axis=1)[:, :nb]  # (nq, nb)
    cols = quantize_probe_pairs(
        yp,
        cp,
        np.repeat(np.arange(nq), nb),
        probe_idx.ravel(),
        d2,
        bias,
        scalar,
        theta_log_dim,
    )
    return {"query_id": np.repeat(np.asarray(ids, dtype=np.int64), nb), **cols}


def probe_frame(spark, block: dict) -> DataFrame:
    """A driver-built probe block as a DataFrame: one typed Arrow table
    (zero-copy; the pandas/py-object route rejects numpy scalars in the
    non-Arrow fallback)."""
    import pyarrow as pa

    qp = block["qplanes"]
    tbl = pa.table(
        {
            "query_id": pa.array(block["query_id"], pa.int64()),
            "cluster_id": pa.array(block["cluster_id"], pa.int32()),
            "y_c_dist_sq": pa.array(block["y_c_dist_sq"], pa.float32()),
            "lower_bound": pa.array(block["lower_bound"], pa.float32()),
            "delta": pa.array(block["delta"], pa.float32()),
            "scalar_sum": pa.array(block["scalar_sum"], pa.float32()),
            "qplanes": pa.FixedSizeListArray.from_arrays(
                pa.array(qp.ravel(), pa.int64()), qp.shape[1]
            ).cast(pa.list_(pa.int64())),
        }
    )
    return spark.createDataFrame(tbl, PROBE_SCHEMA)


def _prepare_probes(
    model: RaBitQModel, queries: DataFrame, query_id: str, query_vec: str, nprobe: int
) -> DataFrame:
    """Stages 1-4 on the executors: prepare_probe_block per Arrow batch of
    the query frame, with the rotation and projected centroids broadcast."""
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    cfg = model.config
    theta_log_dim = cfg.theta_log_dim
    scalar = np.float32(cfg.scalar)
    bc = spark.sparkContext.broadcast(
        (model.rotation, model.centroids_proj, model.rand_bias)
    )

    def prep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rot, cp, bias = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            block = prepare_probe_block(
                pdf[query_id].values,
                np.vstack(pdf[query_vec].values),
                rot,
                cp,
                bias,
                scalar,
                theta_log_dim,
                nprobe,
            )
            yield pd.DataFrame({**block, "qplanes": list(block["qplanes"])})

    return queries.select(
        F.col(query_id).alias(query_id), F.col(query_vec).alias(query_vec)
    ).mapInPandas(prep, PROBE_SCHEMA)


def _double(x: float) -> str:
    """A SQL double literal: a bare `2.0` parses as DECIMAL."""
    return f"{float(x)!r}D"


def _plane_cross_sql(
    code_planes: int, query_planes: int, n_words: int
) -> str:
    """Σ_{j<query_planes, i<code_planes} 2^{i+j}·popcount(code plane i ∧
    query plane j) as SQL, left-associated in the order the jvm estimator
    has always summed it: query plane outer, code plane inner, words
    innermost. Every index is a compile-time constant (ANSI-safe)."""
    terms = []
    for j in range(query_planes):
        for i in range(code_planes):
            pop = " + ".join(
                f"bit_count(element_at(code, {i * n_words + w + 1})"
                f" & element_at(qplanes, {j * n_words + w + 1}))"
                for w in range(n_words)
            )
            terms.append(f"shiftleft(CAST(({pop}) AS BIGINT), {i + j})")
    return " + ".join(terms)


def rough_distance_expr(theta_log_dim: int, n_words: int) -> F.Column:
    """D5 rough-distance estimator as a Column expression
    (src/rabitq.rs:336-367) — pure codegen, no Python.

    rough = center_dist_sq + y_c_dist_sq + lower_bound·factor_ppc
            + (2·asym_dot − scalar_sum)·factor_ip·delta
            − error_bound·sqrt(y_c_dist_sq)

    The popcount sum is fully UNROLLED over (plane, word) into scalar
    element_at/bit_count terms: the earlier slice+zip_with+aggregate fold
    allocated per-row arrays, which capped rough scoring at ~1.4 M rows/s
    and made IVF lose to brute force past ~1e5 candidates (measured,
    scripts/scaling_probe.py). Unrolled scalar codegen removes every
    allocation; indexes are compile-time constants within bounds, so it is
    ANSI-safe. Built as ONE SQL string: one F.expr call, where the
    equivalent Column tree costs a py4j round trip per node.
    """
    asym = _plane_cross_sql(1, theta_log_dim, n_words)
    # parenthesized to the Column tree's left-associated shape, so the
    # float arithmetic (and so every rough score) is unchanged
    base = "((center_dist_sq + y_c_dist_sq) + (lower_bound * factor_ppc))"
    ip = (
        f"(((({_double(2)} * CAST(({asym}) AS DOUBLE)) - scalar_sum)"
        " * factor_ip) * delta)"
    )
    return F.expr(f"({base} + {ip}) - (error_bound * sqrt(y_c_dist_sq))")


def rough_distance_expr_multibit(
    bits: int, theta_log_dim: int, n_words: int, dim_pad: int
) -> F.Column:
    """Symmetric scalar-quantization estimator for multi-bit base codes
    (config.bits_per_dim ≥ 2) — pure codegen, like rough_distance_expr.

    Both sides are dithered scalar quantizations of their residuals:
        resid_q ≈ lower_bound + delta · u_q      (query, theta_log_dim bits)
        resid_b ≈ b_lb + b_delta · u_b           (base, B bits)
    so the inner product expands to four terms, the last a cross-plane
    popcount:  ⟨u_q, u_b⟩ = Σ_{j<4, i<B} 2^{i+j}·popcount(qplane_j ∧ bplane_i)

        rough = center_dist_sq + y_c_dist_sq − 2·(
                  D·lb_q·b_lb + lb_q·b_delta·b_sum
                + b_lb·delta·scalar_sum + delta·b_delta·⟨u_q,u_b⟩ )

    Unrolled over (query-plane, base-plane, word) — B×4×n_words bit_count
    terms, every index a compile-time constant (ANSI-safe), as one SQL
    string like rough_distance_expr. Unlike the 1-bit RaBitQ estimator
    this is unbiased with no error-bound subtraction; accuracy comes from
    the extra base planes."""
    cross = _plane_cross_sql(bits, theta_log_dim, n_words)
    terms = [
        f"(({_double(dim_pad)} * lower_bound) * b_lb)",
        "((lower_bound * b_delta) * b_sum)",
        "((b_lb * delta) * scalar_sum)",
        f"((delta * b_delta) * CAST(({cross}) AS DOUBLE))",
    ]
    est_ip = terms[0]
    for t in terms[1:]:
        est_ip = f"({est_ip} + {t})"
    return F.expr(
        f"(center_dist_sq + y_c_dist_sq) - ({_double(2)} * {est_ip})"
    )


def rough_estimator_expr(model) -> F.Column:
    """The bits-aware D5 estimator for a model — the single place the
    single-bit / multi-bit Column selection lives. Shared by search()'s
    stage-5 jvm plan, range_search and search_adaptive's jvm wave scorer,
    whose 'identical results' contract depends on using the same
    expression."""
    cfg = model.config
    if cfg.bits_per_dim > 1:
        return rough_distance_expr_multibit(
            cfg.bits_per_dim, cfg.theta_log_dim, model.n_words, model.dim_pad
        )
    return rough_distance_expr(cfg.theta_log_dim, model.n_words)


def cluster_filter(clusters) -> F.Column:
    """Partition pruning to the probed clusters — `cluster_id IN (...)` as
    ONE SQL expression (Column.isin pays a py4j round trip per literal);
    an empty set keeps nothing."""
    listed = ", ".join(str(int(c)) for c in clusters)
    return F.expr(f"cluster_id IN ({listed})") if listed else F.lit(False)


def value_gemm_dtype(dim_pad: int, theta_log_dim: int, bits: int):
    """The narrowest float dtype in which value_gemm_asym is integer-exact
    for this geometry: float32 while every partial sum
    dim_pad·(2^theta_log_dim − 1)·(2^bits − 1) stays under 2^24, float64
    (exact to 2^53) above it — about 2× slower, never wrong."""
    bound = dim_pad * ((1 << theta_log_dim) - 1) * ((1 << bits) - 1)
    return np.float32 if bound < 1 << 24 else np.float64


def pack_planes(u: "np.ndarray", n_planes: int) -> "np.ndarray":
    """Per-dim unsigned integer values (n, n_words·64) → their low
    `n_planes` bit-planes, packed bitorder little into one (n,
    n_planes·n_words) int64 array, plane-major words per row — the query
    planes of stage 4 and build_index's multi-bit codes. The inverse of
    unpack_plane_values."""
    n, width = u.shape
    n_words = width // 64
    planes = np.empty((n_planes, n, n_words), dtype=np.uint64)
    for p in range(n_planes):
        bits = ((u >> p) & 1).astype(np.uint8)
        planes[p] = np.packbits(bits, axis=1, bitorder="little").view(np.uint64)
    return planes.transpose(1, 0, 2).reshape(n, n_planes * n_words).view(np.int64)


def unpack_plane_values(
    planes: "np.ndarray", n_planes: int, dtype=np.float32
) -> "np.ndarray":
    """Packed bit-plane tensor (n, n_planes, n_words) int64 → per-dim
    integer values (n, n_words·64) as `dtype`: v[d] = Σ_p 2^p · bit_p[d]
    (bitorder little — the inverse of pack_planes)."""
    n, stored_planes, n_words = planes.shape
    # unpack EVERY plane's words in one contiguous pass (8× the per-plane
    # slice-copy-unpack loop: one C call over one buffer), then fold the
    # plane weights with in-place uint8 shifts/ors — values ≤ 2^n_planes−1
    b = np.unpackbits(
        np.ascontiguousarray(planes).view(np.uint8), bitorder="little"
    ).reshape(n, stored_planes, n_words * 64)
    acc = b[:, 0, :].copy()
    for p in range(1, n_planes):
        acc |= b[:, p, :] << p
    return acc.astype(dtype)


def value_gemm_asym(qvals: "np.ndarray", bvals: "np.ndarray") -> "np.ndarray":
    """The Arrow rough kernel: the estimator's integer cross term
    Σ_{p<P, i<B} 2^{i+p}·popcount(bplane_i ∧ qplane_p) is, by the binary
    expansion of both sides, exactly ⟨u_q, u_b⟩ — one integer dot product
    of the per-dim quantized VALUES, computed as ONE GEMM of the unpacked
    values (unpack_plane_values) for every code width B.

    EXACTNESS: every product is an integer ≤ (2^P−1)(2^B−1) and every
    partial sum ≤ dim_pad·(2^P−1)(2^B−1), so a GEMM in value_gemm_dtype's
    dtype is exact regardless of BLAS summation order — bit-identical to
    the jvm plan's bit_count sum (asserted in tests against a popcount
    reference)."""
    return (qvals @ bvals.T).astype(np.int64)


def top_n(group, key, tie, n: int, ranks: bool = False):
    """Positions of the first `n` rows per `group` value under ascending
    (key, tie) — topk_per_group's row_number window in numpy, for parallel
    arrays. The order is total when `tie` is unique within a group, so the
    cut is associative: applied per batch and again over the survivors, it
    equals one global pass. Positions come in (group, key, tie) order; with
    `ranks`, also each kept row's 1-based rank within its group."""
    order = np.lexsort((tie, key, group))
    g = np.asarray(group)[order]
    pos = np.arange(len(g))
    head = np.ones(len(g), dtype=bool)
    head[1:] = g[1:] != g[:-1]
    rank = pos - np.maximum.accumulate(np.where(head, pos, 0))
    keep = rank < n
    if ranks:
        return order[keep], rank[keep] + 1
    return order[keep]


def local_cut(rough: "np.ndarray", r: int) -> tuple:
    """The local top-R cut of a (queries, rows) rough matrix: (qi, ci),
    row-major, of every entry ≤ its query's R-th smallest value — all of
    them when a query has at most R rows. Every row tied at the R-th value
    is kept, so a later top-R on (rough, id) over the survivors equals one
    global pass, whatever rows shared a batch or a partition. np.partition
    is O(rows) per query, against a full sort of every candidate."""
    m = rough.shape[1]
    if r < m:
        kth = np.partition(rough, r - 1, axis=1)[:, r - 1 : r]
        return np.nonzero(rough <= kth)
    return np.divmod(np.arange(rough.size), m)


def cluster_rough(
    qvals: "np.ndarray",
    ycd: "np.ndarray",
    lb: "np.ndarray",
    delta: "np.ndarray",
    ssum: "np.ndarray",
    bvals: "np.ndarray",
    factors,
    bits: int,
    dim_pad: int,
) -> "np.ndarray":
    """The D5 estimator of one cluster in numpy: the (probe rows, index
    rows) float64 rough matrix, bit-identical to rough_estimator_expr. The
    probe side is its unpacked query values `qvals` and its float32
    y_c_dist_sq, lower bound, delta and scalar sum; the index side its
    unpacked base values `bvals` (m, dim_pad) of `bits`-bit codes — both
    unpack_plane_values in value_gemm_dtype — and `factors`, a mapping
    from factor column to its m values. Called per cluster and probe-row
    block by score_clusters."""
    # the cross/asym term is ONE value GEMM of the unpacked values
    cross = value_gemm_asym(qvals, bvals)
    cds = np.asarray(factors["center_dist_sq"], dtype=np.float32)
    if bits > 1:
        b_lb = np.asarray(factors["b_lb"], dtype=np.float32)
        b_delta = np.asarray(factors["b_delta"], dtype=np.float32)
        b_sum = np.asarray(factors["b_sum"], dtype=np.float32)
        # mirror rough_distance_expr_multibit's ASSOCIATION exactly: Spark
        # left-associates each product and float multiply is
        # non-associative, so jvm-vs-numpy frame identity must hold by
        # construction, not incidentally — (lb·b_delta)·b_sum and
        # (b_lb·delta)·scalar_sum in float32, the dim_pad term all-double,
        # the cross term (delta·b_delta) in float32 then promoted by the
        # int64 cross (numpy float32×int64 → float64, matching the jvm's
        # cast(cross as double))
        est_ip = (
            (float(dim_pad) * lb[:, None].astype(np.float64)) * b_lb[None, :]
            + (lb[:, None] * b_delta[None, :]) * b_sum[None, :]
            + (b_lb[None, :] * delta[:, None]) * ssum[:, None]
            + (delta[:, None] * b_delta[None, :]) * cross
        )
        # (cds + ycd) is a FLOAT32 add in the jvm (both cols are float),
        # promoted only when the double est_ip term joins — mirror that
        # promotion point
        return (cds[None, :] + ycd[:, None]).astype(np.float64) - 2.0 * est_ip
    f_ip = np.asarray(factors["factor_ip"], dtype=np.float32)
    f_ppc = np.asarray(factors["factor_ppc"], dtype=np.float32)
    eb = np.asarray(factors["error_bound"], dtype=np.float32)
    # mirror rough_distance_expr's association and promotion points exactly
    # (see the multibit comment): ((cds+ycd)+lb·f_ppc) in float32; the asym
    # term left-associated all-double ((2a−s)·f_ip)·delta; sqrt in double
    # (F.sqrt always returns double)
    return (
        ((cds[None, :] + ycd[:, None]) + lb[:, None] * f_ppc[None, :]).astype(
            np.float64
        )
        + (2.0 * cross - ssum[:, None]) * f_ip[None, :] * delta[:, None]
        - eb[None, :] * np.sqrt(ycd.astype(np.float64))[:, None]
    )


def probes_by_cluster(block: dict, theta_log_dim: int, n_words: int) -> dict:
    """A driver probe block grouped by cluster, rows in table order within
    a group: {cluster_id: (query_id int64, y_c_dist_sq, lower_bound,
    delta, scalar_sum float32, (rows, theta_log_dim, n_words) int64 query
    planes)} — the probe side of cluster_rough."""
    cid = block["cluster_id"]
    order = np.argsort(cid, kind="stable")
    groups = np.split(order, np.flatnonzero(np.diff(cid[order])) + 1)
    return {
        int(cid[sel[0]]): (
            block["query_id"][sel].astype(np.int64),
            block["y_c_dist_sq"][sel].astype(np.float32),
            block["lower_bound"][sel].astype(np.float32),
            block["delta"][sel].astype(np.float32),
            block["scalar_sum"][sel].astype(np.float32),
            block["qplanes"][sel]
            .astype(np.int64)
            .reshape(len(sel), theta_log_dim, n_words),
        )
        for sel in (groups if len(order) else [])
    }


def score_clusters(
    csr: CSRIndex, by_cluster: dict, r: int, max_entries: int
) -> tuple:
    """The one numpy stage 5, with the local cut of stage 6: each probed
    cluster's rows of `csr` scored by cluster_rough against its probe rows
    in `by_cluster` (probes_by_cluster), then cut by local_cut to its
    top-R per query, ties kept. The geometry comes from the arrays: words
    per plane and query planes from the probe planes, code planes from
    the code width. Returns ((query_id, orig_id, rough) arrays, pairs
    scored). Serves the resident arrays, a driver index collect and each
    Arrow batch of _fused_shortlist.

    A cluster's probe rows are scored in blocks, so one rough matrix
    holds at most `max_entries` entries (scratch.BLOCK_ENTRIES, read by
    the caller on the driver); its base values are unpacked once. The cut
    is row-wise and the value GEMM integer-exact, so the blocks are
    bit-identical to one pass."""
    # seeded with empty arrays: a batch that probes only empty clusters
    out_q, out_id = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    out_rough, scored = [np.empty(0)], 0
    for c in np.flatnonzero(np.diff(csr.offsets)).tolist():
        probe = by_cluster.get(c)
        if probe is None:
            continue
        qids, ycd, lb, delta, ssum, planes = probe
        ids, codes, factors = csr.cluster(c)
        theta_log_dim, n_words = planes.shape[1:]
        bits = codes.shape[1] // n_words
        dtype = value_gemm_dtype(64 * n_words, theta_log_dim, bits)
        bvals = unpack_plane_values(
            codes.reshape(len(ids), bits, n_words), bits, dtype
        )
        step = max(1, max_entries // len(ids))
        for lo in range(0, len(qids), step):
            b = slice(lo, lo + step)
            rough = cluster_rough(
                unpack_plane_values(planes[b], theta_log_dim, dtype),
                ycd[b], lb[b], delta[b], ssum[b], bvals, factors, bits,
                64 * n_words,
            )
            scored += rough.size
            qi, ci = local_cut(rough, r)
            out_q.append(qids[b][qi])
            out_id.append(ids[ci])
            out_rough.append(rough[qi, ci])
    return tuple(map(np.concatenate, (out_q, out_id, out_rough))), scored


#: Worker-buffer row budget for _fused_shortlist's partition-level top-R
#: accumulation (~100 MB at 24 bytes/row). Exhaustive configs (r ≥ buffer)
#: emit partial chunks instead of holding the whole partition.
_FUSED_FLUSH_ROWS = 4_000_000


def _fused_shortlist(
    model: RaBitQModel, block: dict, r: int, index: DataFrame
) -> DataFrame:
    """The Arrow plan for stages 5-6: ONE mapInArrow over the index rows
    `index` (_index_scan: pruned and filtered), with the driver probe
    `block` (prepare_probe_block's columns) broadcast keyed by cluster.
    Each Arrow batch becomes a CSRIndex and runs score_clusters, so every
    probed cluster's rows are one value GEMM and a local cut; the
    partition keeps a top-R per query and emits it (≤ R rows per query per
    partition into the window, instead of every candidate). Same estimator
    and top-R order as the jvm join, so the frames are identical."""
    import pyarrow as pa

    spark = model.index_df.sparkSession
    ensure_package_on_executors(spark)
    n_clusters, factors = model.n_clusters, factor_columns(model.config)
    width = model.config.bits_per_dim * model.n_words
    bc = spark.sparkContext.broadcast(
        probes_by_cluster(block, model.config.theta_log_dim, model.n_words)
    )
    max_entries = _scratch.BLOCK_ENTRIES

    def topr(q, i, ro):
        keep = top_n(q, ro, i, r)
        return q[keep], i[keep], ro[keep]

    def emit(q, i, ro):
        return pa.RecordBatch.from_arrays(
            [pa.array(q, pa.int64()), pa.array(i, pa.int64()), pa.array(ro)],
            ["query_id", "orig_id", "rough"],
        )

    def score(batches):
        by_cluster = bc.value
        buf: list = []
        for batch in batches:
            csr = CSRIndex.of(batch, n_clusters, width, factors)
            if csr is None:
                raise ValueError(f"an index code list is not {width} words")
            (q, i, ro), _ = score_clusters(csr, by_cluster, r, max_entries)
            if not len(q):
                continue
            # the per-batch trim bounds the buffer; the partition-level
            # trim below shrinks the Arrow emit (and the window input)
            # again — measured 16.7M -> <=nq×R rows per partition at
            # 1M × 256 / nq=1000 (PLAN.md round 7)
            buf.append(topr(q, i, ro))
            # with exhaustive/high-overfetch configs the per-batch trim
            # keeps every row: past the budget, compact via the merged
            # top-R, and if that cannot shrink below it, EMIT — the window
            # downstream re-trims globally, so partial chunks never change
            # results
            if sum(len(b[0]) for b in buf) > _FUSED_FLUSH_ROWS:
                merged = topr(*map(np.concatenate, zip(*buf)))
                if len(merged[0]) > _FUSED_FLUSH_ROWS:
                    yield emit(*merged)
                    buf = []
                else:
                    buf = [merged]
        if buf:
            yield emit(*topr(*map(np.concatenate, zip(*buf))))

    return index.select("cluster_id", "orig_id", "code", *factors).mapInArrow(
        score, "query_id bigint, orig_id bigint, rough double"
    )


def _index_scan(
    model: RaBitQModel, index: "DataFrame | None", clusters=None
) -> DataFrame:
    """The index rows a stage-5 scan reads, every kernel and source:
    `index` (search()'s frame, filtered by its index predicate and
    allowed ids; the model's own by default) pruned to `clusters` — an
    IN-filter pushed into the Parquet scan, the analogue of the
    reference's CSR offsets scan (src/rabitq.rs:348)."""
    index = model.index_df if index is None else index
    return index if clusters is None else index.filter(cluster_filter(clusters))


def _rough_candidates(
    model: RaBitQModel,
    block: "dict | None" = None,
    probes: "DataFrame | None" = None,
    clusters=None,
    index: "DataFrame | None" = None,
) -> DataFrame:
    """Stage 5 on the jvm: the J2 equi-join of the _index_scan ⋈ the probe
    table on cluster_id, then the D5 estimator (rough_estimator_expr) —
    (query_id, orig_id, rough). The probe table broadcasts if and only if
    the driver built it: the driver `block` as a local relation, else the
    executor frame `probes` joins under a merge hint, so no size estimate
    broadcasts a table past the driver cap: BOTH sides shuffle by
    cluster_id, the index side bounded by the pruned posting lists."""
    if block is not None:
        probe_side = F.broadcast(probe_frame(model.index_df.sparkSession, block))
    else:
        probe_side = probes.hint("merge")
    return (
        _index_scan(model, index, clusters)
        .join(probe_side, "cluster_id")
        .select("query_id", "orig_id", rough_estimator_expr(model).alias("rough"))
    )


def _candidates(
    model: RaBitQModel,
    kernel: str,
    r: int,
    block: "dict | None" = None,
    probes: "DataFrame | None" = None,
    clusters=None,
    index: "DataFrame | None" = None,
) -> DataFrame:
    """Stage 5 of the executor tail: rough-score with `kernel` over the
    _index_scan — "arrow" runs _fused_shortlist (a local top-R per
    partition) over the driver probe `block`, "jvm" _rough_candidates
    over the block, or over the executor probe frame `probes` when the
    driver holds none (choose_kernel then picks only "jvm"). Returns
    (query_id, orig_id, rough)."""
    if kernel == "arrow":
        return _fused_shortlist(model, block, r, _index_scan(model, index, clusters))
    return _rough_candidates(model, block, probes, clusters, index)


def _shortlist(
    model: RaBitQModel, kernel: str, r: int, metrics=None, **kw
) -> DataFrame:
    """Stages 5-6 on the executors: _candidates, then the top-R per query
    on (rough, orig_id) as a window, with `metrics`' rough and precise
    observers. Returns (query_id, orig_id)."""
    cand = _candidates(model, kernel, r, **kw)
    if metrics is not None and metrics.observe_rough:
        # A10 rough-candidate counter (src/metrics.rs analogue, no extra
        # pass — but the CollectMetrics node splits the codegen span; see
        # SearchMetrics.observe_rough for the at-scale cost)
        cand = cand.observe(metrics.rough, F.count(F.lit(1)).alias("rough_count"))
    shortlist = topk_per_group(
        cand, ["query_id"], [F.col("rough").asc(), F.col("orig_id").asc()], r
    ).select("query_id", "orig_id")
    if metrics is not None and metrics.observe_precise:
        # CollectMetrics directly above the top-R filter defeats the
        # WindowGroupLimit pre-shuffle trim at scale — see
        # SearchMetrics.observe_precise for the bisected cost
        shortlist = shortlist.observe(
            metrics.precise, F.count(F.lit(1)).alias("precise_count")
        )
    return shortlist


#: The driver tail's result schema: exact_topk's for a driver batch's
#: bigint query ids (row_number ranks are non-null).
_RESULT_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), True),
        StructField("neighbor_id", LongType(), True),
        StructField("dist", DoubleType(), True),
        StructField("rank", IntegerType(), False),
    ]
)


def _driver_tail_fits(
    model: RaBitQModel, qv, probe_counts: "dict | None", r: int
) -> bool:
    """Whether stages 6-7 of a batch finish on the driver (_driver_tail):
    its query side `qv` is a driver matrix, and two byte bounds hold that
    need no job:

    * the candidate stream, at most max(probe rows per cluster) × n_rows
      rows for any kernel (no cluster holds more than n_rows rows),
      within _ARROW_MAX_PROBE_BYTES, the cap on the probe table: both are
      one copy on the driver. The query matrix's cap, which bounds a copy
      in every Python worker, is too tight for this loose bound: at 250
      queries, nprobe 2 of 71 clusters and 5k rows the busiest cluster
      drew 44-139 probe rows across five seeds, and 8 MiB admits 69.
    * the shortlisted base rows, at most min(nq × R, n_rows) rows of
      dim_pad float32s (base_df's padded width), within
      vecstore.QUERY_MATRIX_MAX_BYTES like the query matrix.

    A model that does not know n_rows bounds neither."""
    if isinstance(qv, DataFrame) or model.n_rows is None:
        return False
    # a candidate row is query_id, orig_id and rough: 8 B each
    cand_bytes = max(probe_counts.values(), default=0) * model.n_rows * 24
    base_bytes = min(len(qv[0]) * r, model.n_rows) * model.dim_pad * 4
    return (
        cand_bytes <= _ARROW_MAX_PROBE_BYTES
        and base_bytes <= vecstore.QUERY_MATRIX_MAX_BYTES
    )


def _base_rows(model: RaBitQModel, ids: "np.ndarray", metrics=None):
    """The base rows of sorted unique `ids` for the driver tail: (positions
    into `ids` of the rows read, their vectors, base rows read or None when
    `metrics.rerank` observed them). The resident base, while its arrays
    describe the model, and a vec store gather exactly those rows on the
    driver, zero jobs. base_df takes ONE collect: the whole frame when all
    n_rows fit vecstore.QUERY_MATRIX_MAX_BYTES — the scan reads every row
    either way, and a long `orig_id IN (...)` list costs more to analyze
    (~100 ms at 3.5k ids) than shipping the rest of a small base — else
    that IN filter, its rows then gathered like the resident base's
    (sorted_gather): an id the frame lacks drops its pairs, the base
    join's semantics."""
    res = model.resident
    if res is not None and res.describes(model):
        found, vecs = sorted_gather(res.base_ids, res.base_vecs, ids)
        return found, vecs, len(found)
    base = model.rerank_base
    if isinstance(base, VecStore):
        return np.arange(len(ids)), base.gather(ids), len(ids)
    if len(ids) == 0:
        return ids, np.empty((0, model.dim_pad), dtype=np.float32), 0
    if metrics is not None:
        base = base.observe(
            metrics.rerank, F.count(F.lit(1)).alias("rerank_base_rows")
        )
    if model.n_rows * model.dim_pad * 4 > vecstore.QUERY_MATRIX_MAX_BYTES:
        listed = ", ".join(str(int(i)) for i in ids)
        base = base.filter(F.expr(f"orig_id IN ({listed})"))
    t = base.select("orig_id", "vec").toArrow()
    got = t["orig_id"].to_numpy()
    order = np.argsort(got, kind="stable")
    vecs = _list_matrix(t["vec"], model.dim_pad)
    return (*sorted_gather(got[order], vecs[order], ids), None)


def _driver_tail(
    model: RaBitQModel,
    cand: tuple,
    qv: tuple,
    r: int,
    k: int,
    metrics: "SearchMetrics | None" = None,
    rough_count: int = 0,
):
    """Stages 6-7 on the driver, for a batch whose query matrix is there
    and whose bounds _driver_tail_fits, over its stage-5 candidates `cand`,
    parallel (query_id, orig_id, rough) arrays: the top-R per query on
    (rough, orig_id) in numpy (top_n); each DISTINCT shortlisted id's base
    row read once (_base_rows); vecstore.l2_fold per (query, candidate)
    pair; the top-k per query on (dist, neighbor_id). Same order and
    arithmetic as the executor tail (_shortlist + exact_topk), so the rows
    are bit-identical. Returns a pyarrow Table of _RESULT_SCHEMA
    (result_table). `metrics` gets the counts from the arrays, at no extra
    job: `rough_count` (the pairs stage 5 scored), the top-R rows, and the
    base rows a gather read."""
    qids, qmat = qv
    q, ids, rough = cand
    keep = top_n(q, rough, ids, r)
    q, ids = q[keep], ids[keep]
    uniq, inv = np.unique(ids, return_inverse=True)
    found, vecs, read = _base_rows(model, uniq, metrics)
    # the `vecs` row of each shortlisted pair; an id base_df lacks drops
    # its pairs
    row = np.full(len(uniq), -1, dtype=np.int64)
    row[found] = np.arange(len(found))
    row = row[inv]
    ok = row >= 0
    q, ids, row = q[ok], ids[ok], row[ok]
    qorder = np.argsort(qids)
    qrow = qorder[np.searchsorted(qids, q, sorter=qorder)]
    dim = qmat.shape[1]
    dist = np.empty(len(q), dtype=np.float64)
    step = max(1, vecstore.QUERY_MATRIX_MAX_BYTES // (8 * dim))
    for s in range(0, len(q), step):
        e = min(s + step, len(q))
        dist[s:e] = l2_fold(qmat[qrow[s:e]], vecs[row[s:e], :dim])
    if metrics is not None:
        metrics.counts["rough_count"] = rough_count
        metrics.counts["precise_count"] = len(keep)
        if read is not None:
            metrics.counts["rerank_base_rows"] = read
    return result_table(q, ids, dist, k)


def result_table(q, ids, dist, k: int):
    """The top-k per query of parallel (query_id, neighbor_id, dist)
    arrays on (dist, neighbor_id), ranked (top_n), as a pyarrow Table of
    _RESULT_SCHEMA's columns."""
    import pyarrow as pa

    sel, rank = top_n(q, dist, ids, k, ranks=True)
    return pa.table(
        {
            "query_id": pa.array(q[sel], pa.int64()),
            "neighbor_id": pa.array(ids[sel], pa.int64()),
            "dist": pa.array(dist[sel], pa.float64()),
            "rank": pa.array(rank, pa.int32()),
        }
    )


def auto_overfetch(model: RaBitQModel, nprobe: int, topk: int) -> int:
    """Scale-aware rerank width: overfetch such that R = overfetch × topk is
    ~2% of the rough-candidate pool, floored at config.overfetch. See
    search() docstring for the 1M-row measurement behind the rule.

    Every extra base bit-plane roughly halves the rerank width the sharper
    estimator needs (scripts/multibit_probe.py at 1M × 256: 1-bit wants
    overfetch 62 for recall 0.971; 4-bit reaches 1.000 at overfetch 8 —
    2%/2^(B−1) of the pool), so both the pool fraction and the floor scale
    down by 2^(bits_per_dim − 1), with an absolute floor of 4."""
    import math

    avg_cluster = (
        model.n_rows / model.n_clusters if model.n_rows else model.n_clusters
    )
    pool = min(nprobe, model.n_clusters) * avg_cluster
    sharp = 2 ** (model.config.bits_per_dim - 1)
    return max(
        math.ceil(model.config.overfetch / sharp),
        math.ceil(0.02 * pool / topk / sharp),
        4,
    )


# Auto-dispatch floors (guide §1.2: the distributed algorithm first),
# used only by choose_kernel. Total pair-scores below these keep the jvm
# codegen join — the Arrow kernel's fixed per-search Python/Arrow
# round-trip plus per-group setup dominates there. Measured on the r12
# host: sf0.1 headline geometry (~0.9M pairs) jvm wins; 1M×256 1-bit
# (~31M pairs) Arrow wins 40.2→33.3 s; 10M×256 4-bit (~50M pairs) Arrow
# wins 8–10× — and on 4-bit codes the value GEMM already wins at ~1
# query/cluster (200-query slice at 10M: 12.5 s vs jvm 98.2 s), so the
# multibit floor is lower and geometry-free.
_ARROW_MIN_PAIRS = 8_000_000
_ARROW_MIN_PAIRS_MULTIBIT = 2_000_000
# 1-bit geometry floor (measured at 10M × 256, 0.5% coverage, r9): the
# Arrow kernel pays a per-(cluster, batch)-group setup that needs enough
# probing queries per cluster to amortize — at ~6.4 queries/cluster the
# jvm join won 18.5 s vs 55.4 s; at 31 queries/cluster Arrow won 7.3 s vs
# jvm 12.5 s (1M probe). 12 sits between the two measured regimes. The
# 1-bit Arrow figures behind both 1-bit floors were taken with a plane-wise
# popcount kernel ~30× slower per call than the value GEMM, so these floors
# are conservative until re-measured.
_ARROW_MIN_QUERIES_PER_CLUSTER = 12
# Byte cap for one copy held on the driver. A batch runs stages 1-4 there
# while its probe table (≈ 1.7M probe rows at dim 256, which the Spark
# plans then broadcast) and its float64 query block each fit; past it the
# batch keeps the executor path and its jvm join. It also caps a
# driver-tail batch's candidate stream (_driver_tail_fits) and index
# collect (_driver_csr: all n_rows rows at the index row width).
_ARROW_MAX_PROBE_BYTES = 256 << 20

#: What a caller may ask for; the kernel rule also returns "driver".
KERNELS = ("auto", "jvm", "arrow")


def choose_kernel(
    model: RaBitQModel,
    impl: str,
    probe_counts: "dict | None",
    nprobe: int,
) -> tuple[str, str]:
    """The Spark kernel of the executor tail — the one place one is
    validated or chosen. Returns ("jvm" | "arrow", reason) for `impl` (one
    of KERNELS) over a driver probe table with {cluster_id: probe rows}
    `probe_counts` (None when the probe table is not on the driver) and at
    most `nprobe` probed clusters per query. Every kernel is
    bit-identical, so the choice never changes a result row. In order:
    "jvm" is honoured; a probe table not on the driver runs the jvm join,
    the one plan that never holds it there; "auto" keeps the jvm join when
    nprobe covers over half the clusters — the batch scans most of the
    index (at the sf0.1 headline shape, nprobe 28 of 32 clusters); then
    "arrow" is honoured, and "auto" asks the floors below."""
    if impl not in KERNELS:
        raise ValueError(f"impl must be one of {KERNELS}, got {impl!r}")
    if impl == "jvm":
        return "jvm", "requested"
    if probe_counts is None:
        return "jvm", "probe table not on the driver"
    if impl == "auto" and 2 * nprobe > model.n_clusters:
        return "jvm", "nprobe covers over half the clusters"
    n_probe_rows = sum(probe_counts.values())
    if impl == "arrow":
        return "arrow", "requested"
    # avg cluster size uses model.n_rows when the builder recorded it, else
    # n_clusters (exact under k ≈ √n sizing)
    avg_cluster = (
        model.n_rows / max(model.n_clusters, 1)
        if model.n_rows
        else float(model.n_clusters)
    )
    est_pairs = n_probe_rows * avg_cluster
    if model.config.bits_per_dim > 1:
        floor = _ARROW_MIN_PAIRS_MULTIBIT
        if est_pairs < floor:
            return "jvm", f"est_pairs {est_pairs:.3g} < {floor:.3g}"
        return "arrow", f"est_pairs {est_pairs:.3g} >= {floor:.3g}"
    if est_pairs < _ARROW_MIN_PAIRS:
        return "jvm", f"est_pairs {est_pairs:.3g} < {_ARROW_MIN_PAIRS:.3g}"
    q_per_cluster = n_probe_rows / max(len(probe_counts), 1)
    if q_per_cluster < _ARROW_MIN_QUERIES_PER_CLUSTER:
        return "jvm", (
            f"{q_per_cluster:.3g} queries/cluster < "
            f"{_ARROW_MIN_QUERIES_PER_CLUSTER}"
        )
    return "arrow", (
        f"est_pairs {est_pairs:.3g}, {q_per_cluster:.3g} queries/cluster"
    )


def _pruning_set(model: RaBitQModel, probe_counts: "dict | None"):
    """The pruning rule of every stage-5 scan, any kernel or source: the
    probed clusters as the `cluster_id IN (...)` set when they are at most
    half the index, else None — a wider set prunes little, and its literal
    list costs analysis. nprobe·2 > n_clusters already rules pruning out,
    so the executor path pays its count job only below it."""
    if probe_counts is not None and 2 * len(probe_counts) <= model.n_clusters:
        return probe_counts
    return None


def _index_row_bytes(model: RaBitQModel) -> int:
    """Driver bytes of one collected index row: bits_per_dim × n_words
    code words, orig_id, cluster_id and four float32 factors."""
    return model.config.bits_per_dim * model.n_words * 8 + 28


def _driver_csr(model: RaBitQModel, index: DataFrame, clusters) -> tuple:
    """The driver scorer's index rows: (CSRIndex or None, reason). The
    resident arrays when they describe the model and `index` is its own
    frame (no filter), at no job; else ONE collect of the _index_scan,
    admitted before any job like _driver_tail_fits' bounds: all n_rows
    index rows at the index row width within _ARROW_MAX_PROBE_BYTES, None
    past it."""
    res = model.resident
    if res is not None and res.describes(model) and index is model.index_df:
        return res.index, f"resident index and base arrays, {res.nbytes} B"
    index_bytes = model.n_rows * _index_row_bytes(model)
    if index_bytes > _ARROW_MAX_PROBE_BYTES:
        return None, (
            f"index {index_bytes} B > collect cap {_ARROW_MAX_PROBE_BYTES} B"
        )
    factors = factor_columns(model.config)
    t = (
        _index_scan(model, index, clusters)
        .select("cluster_id", "orig_id", "code", *factors)
        .toArrow()
    )
    width = model.config.bits_per_dim * model.n_words
    csr = CSRIndex.of(t, model.n_clusters, width, factors)
    return csr, f"{t.num_rows} index rows collected"


def stage5_kernel(
    model: RaBitQModel,
    impl: str,
    r: int,
    qv,
    probe_counts: "dict | None",
    nprobe: int,
    index: DataFrame,
) -> tuple:
    """The kernel rule of search() and every search_adaptive wave: (kernel,
    reason, CSRIndex or None). An "auto" batch whose stages 6-7 fit the
    driver (_driver_tail_fits) runs the driver scorer — "driver":
    score_clusters over _driver_csr's rows of `index`, the resident arrays
    or one bounded collect — and its reason names the source. Every other
    batch, a forced "jvm" or "arrow" included, runs choose_kernel's Spark
    plan on the executor tail. `probe_counts` is the geometry of a probe
    table the driver holds, None when it holds none."""
    why = ""
    if impl == "auto" and _driver_tail_fits(model, qv, probe_counts, r):
        csr, why = _driver_csr(model, index, _pruning_set(model, probe_counts))
        if csr is not None:
            return "driver", why, csr
        why += "; "
    kernel, reason = choose_kernel(model, impl, probe_counts, nprobe)
    return kernel, why + reason, None


def _tail(
    model: RaBitQModel,
    kernel: str,
    r: int,
    k: int,
    qv,
    probe_counts: "dict | None",
    metrics: "SearchMetrics | None" = None,
    local: bool = False,
    csr: "CSRIndex | None" = None,
    **stage5,
):
    """Stages 5-7 of search() and every search_adaptive wave, for the
    `kernel` and `csr` of stage5_kernel. The "driver" kernel scores the
    driver probe `block` against `csr` (score_clusters) and finishes in
    _driver_tail, a local relation. A
    Spark kernel runs the window top-R (_shortlist, pruned by
    _pruning_set, with `metrics`' observers) and vecstore.exact_topk;
    `stage5` goes to _candidates. Returns (query_id, neighbor_id, dist,
    rank) — as pandas with `local`: a driver tail's table at no job
    (toPandas() of its local relation would start one), else one
    collect."""
    if kernel == "driver":
        theta_log_dim = model.config.theta_log_dim
        by_cluster = probes_by_cluster(stage5["block"], theta_log_dim, model.n_words)
        cand, scored = score_clusters(csr, by_cluster, r, _scratch.BLOCK_ENTRIES)
        table = _driver_tail(model, cand, qv, r, k, metrics, scored)
        if local:
            return table.to_pandas()
        return model.index_df.sparkSession.createDataFrame(table, _RESULT_SCHEMA)
    shortlist = _shortlist(
        model, kernel, r, metrics, clusters=_pruning_set(model, probe_counts), **stage5
    )
    # Stage 7: exact rerank on original vectors (J3 + D1 + final top-k)
    out = exact_topk(shortlist, qv, model.rerank_base, k, metrics, id_col="orig_id")
    return out.toPandas() if local else out


def _probe_row_bytes(model: RaBitQModel) -> int:
    """Driver bytes of one probe row: theta_log_dim × n_words packed-plane
    int64s plus ~32 B of scalars."""
    return model.config.theta_log_dim * model.n_words * 8 + 32


def _driver_batch(
    model: RaBitQModel,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    nprobe: int,
):
    """Stages 1-4 on the driver: ONE bounded collect of the query batch
    (vecstore.collect_queries), then prepare_probe_block in numpy.
    Returns (ids, (nq, dim) float64 query matrix, probe block), or None —
    the batch keeps the executor path — when its probe table (nq × nprobe
    probe rows) or its query block would pass _ARROW_MAX_PROBE_BYTES, the
    cap for one copy held on the driver, or its ids are not integers. The
    ids need not be unique: stage 7 then joins the query frame
    (_query_side). A query row is priced at the larger of its two copies,
    so a batch past the cap fetches at most cap + 1 rows, once."""
    nb = min(nprobe, model.centroids_proj.shape[0])
    row_bytes = max(8 * model.dim, nb * _probe_row_bytes(model))
    pdf = collect_queries(
        queries, query_id, query_vec, row_bytes, _ARROW_MAX_PROBE_BYTES
    )
    if pdf is None:
        return None
    ids = pdf[query_id].to_numpy()
    if not np.issubdtype(ids.dtype, np.integer):
        return None
    qmat = query_matrix(pdf[query_vec].to_numpy(), model.dim)
    cfg = model.config
    geometry = (model.rotation, model.centroids_proj, model.rand_bias)
    quant = (np.float32(cfg.scalar), cfg.theta_log_dim, nprobe)
    # blocks of an Arrow batch's rows, as the executor prep sees them: the
    # (queries, clusters) distances and each pair's float32 residual are
    # temporaries several times the probe table's bytes
    conf = queries.sparkSession.conf
    step = int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    step = step if step > 0 else max(len(ids), 1)
    parts = [
        prepare_probe_block(ids[i : i + step], qmat[i : i + step], *geometry, *quant)
        for i in range(0, max(len(ids), 1), step)
    ]
    block = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
    return ids, qmat, block


def cluster_counts(cluster_ids: "np.ndarray") -> dict:
    """A driver probe table's geometry: {cluster_id: probe rows}."""
    cids, counts = np.unique(cluster_ids, return_counts=True)
    return dict(zip(cids.tolist(), counts.tolist()))


def _probe_counts(probes: DataFrame) -> tuple[DataFrame, dict]:
    """The executor path's probe geometry: checkpoint the probe table once
    (executor blocks, lineage cut — the prep stage must not run twice),
    then ONE groupBy(cluster_id).count() job (≤ n_clusters rows). Returns
    the checkpointed table and {cluster_id: probe rows}."""
    probes = probes.localCheckpoint(eager=True)
    rows = probes.groupBy("cluster_id").count().collect()
    return probes, {row["cluster_id"]: row["count"] for row in rows}


def _driver_matrix(ids: "np.ndarray", qmat: "np.ndarray") -> bool:
    """Whether a collected query batch can stay on the driver for stage 7:
    unique integer ids (the rerank indexes the matrix by id) and a matrix
    within QUERY_MATRIX_MAX_BYTES."""
    return (
        np.issubdtype(ids.dtype, np.integer)
        and len(np.unique(ids)) == len(ids)
        and qmat.nbytes <= vecstore.QUERY_MATRIX_MAX_BYTES
    )


def _query_side(
    model: RaBitQModel, queries: DataFrame, query_id, query_vec, driver=None
):
    """Stage 7's query side, as exact_rerank takes it: `driver`, a
    collected (ids, (nq, dim) float64 matrix) pair, when _driver_matrix
    lets it stay there; else the frame (query_id, __qvec), padded like
    base_df (zeros cancel in the exact difference)."""
    if driver is not None and _driver_matrix(*driver):
        return driver
    return queries.select(
        F.col(query_id).alias("query_id"),
        pad_to_multiple(F.col(query_vec), 64, model.dim).alias("__qvec"),
    )


def _prepare_batch(
    model: RaBitQModel,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    nprobe: int,
):
    """Stages 1-4 for search() and range_search(): on the driver when
    _driver_batch takes the batch, else on the executors. Returns (probes,
    block, probe_counts, qv): exactly one of the executor probe frame and
    the driver probe block (a jvm stage 5 broadcasts the block as a local
    relation, in _rough_candidates: the driver scorer needs none), the
    {cluster_id: probe rows} (None on the executor path unless nprobe·2 ≤
    n_clusters: _pruning_set), and the stage-7 query side exact_rerank
    takes (_query_side)."""
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    driver = _driver_batch(model, queries, query_id, query_vec, nprobe)
    if driver is not None:
        qids, qmat, block = driver
        qv = _query_side(model, queries, query_id, query_vec, (qids, qmat))
        return None, block, cluster_counts(block["cluster_id"]), qv
    probes = _prepare_probes(model, queries, query_id, query_vec, nprobe)
    probe_counts = None
    if 2 * nprobe <= model.n_clusters:
        probes, probe_counts = _probe_counts(probes)
    return probes, None, probe_counts, _query_side(model, queries, query_id, query_vec)


def search(
    model: RaBitQModel,
    queries: DataFrame,
    topk: int | None = None,
    nprobe: int | None = None,
    overfetch: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    metrics: "SearchMetrics | None" = None,
    impl: str = "auto",
    index_predicate=None,
    allowed: "DataFrame | None" = None,
) -> DataFrame:
    """Batch top-k ANN: returns (query_id, neighbor_id, dist, rank).

    Every batch whose probe table and query block fit the driver cap
    (_ARROW_MAX_PROBE_BYTES) runs stages 1-4 on the driver (see the module
    docstring): one collect job replaces the executor prep stage, its
    checkpoint and the probe-geometry count. Only a batch past the cap,
    such as a full-table self-join past about 350k rows at dim 64 and
    nprobe 12, runs the executor path, with the jvm join shuffling both
    sides by cluster_id. When the driver tail's bounds fit
    (_driver_tail_fits), an "auto" batch also runs stages 5-7 on the
    driver: its Spark jobs then run INSIDE this call (one collect of the
    probed index rows and, without a vec store, one base collect; none on
    a small loaded model's resident arrays) and the returned frame is a
    local relation, which collects without a job. Otherwise the returned
    frame is the lazy executor-tail plan. All give identical frames.

    Filtered search (two forms, both applied to the index rows every
    kernel scores, so filtered-out rows never consume rerank slots —
    post-filtering the final top-k would silently shrink result sets):

    * `index_predicate` — a Column/SQL predicate over metadata columns the
      index carries (build_index(attr_cols=...)). The scale path: the
      predicate filters the index SCAN itself (Parquet predicate pushdown,
      zero extra shuffles/joins).
    * `allowed` — a one-column DataFrame of permitted ids, semi-joined
      against the index rows. For ad-hoc id sets not materialized in the
      index; costs a join keyed by orig_id (broadcast when small / AQE).

    dist is exact squared L2 in the original space (the reference reranks on
    unrotated base columns — src/rerank.rs:85-90) computed as a deterministic
    double-precision fold, so an exhaustive configuration (nprobe ≥ k,
    overfetch ≥ n/topk) reproduces exact brute-force results bit-for-bit.

    When `overfetch` is not given, the rerank width R = overfetch × topk
    auto-scales with the rough-candidate pool (never below cfg.overfetch).
    Measured at 1M × 256 (scripts/tune_scale_recall.py): recall@10 there is
    ESTIMATOR-bound, not coverage-bound — widening nprobe 31→100 left
    recall at 0.8299 while widening overfetch 16→64 lifted it to 0.9729 at
    equal wall time — so the knob that must grow with data is R, at ~2% of
    the pool. Pool ≈ nprobe × average cluster size, where the average uses
    model.n_rows when the builder recorded it and otherwise n_clusters
    itself (exact under the standard n_clusters ≈ √n sizing).

    `impl` asks for the rough-scoring kernel under stage5_kernel's rule:
    "auto" runs a driver-tail batch on the driver scorer ("driver":
    score_clusters over the resident arrays or one bounded collect of the
    index rows) and any other batch on choose_kernel's pick; "jvm", the
    codegen join plan, and "arrow", the value-GEMM mapInArrow plan
    (_fused_shortlist), run that plan and the executor tail. A batch past
    the driver cap has no probe table on the driver, so it runs the jvm
    join whatever it asks for. All give bit-identical frames.
    `metrics.kernel` / `metrics.kernel_reason` report the kernel that ran
    and why (the driver scorer's source); `metrics.probe_rows` /
    `metrics.probed_clusters` the probe geometry whenever the search
    resolved it (always on the driver path). On the driver scorer the
    rough, precise and gather rerank counts come from its arrays
    (`metrics.counts`: rough_count is every pair scored, rerank_base_rows
    the distinct ids gathered), and a base_df rerank is observed inside
    its one base job.
    """
    cfg = model.config
    topk = topk or cfg.topk
    nprobe = nprobe or cfg.nprobe
    if overfetch is None:
        overfetch = auto_overfetch(model, nprobe, topk)
    probes, block, probe_counts, qv = _prepare_batch(
        model, queries, query_id, query_vec, nprobe
    )
    index = model.index_df
    if index_predicate is not None:
        index = index.filter(index_predicate)
    if allowed is not None:
        ok = allowed.select(F.col(allowed.columns[0]).alias("orig_id"))
        index = index.join(ok.distinct(), "orig_id", "left_semi")
    r = max(topk * overfetch, topk)
    # the kernel rule reads the geometry of a probe table on the driver
    kernel, reason, csr = stage5_kernel(
        model, impl, r, qv, None if block is None else probe_counts, nprobe, index
    )
    if metrics is not None:
        metrics.kernel, metrics.kernel_reason = kernel, reason
        if probe_counts is not None:
            metrics.probed_clusters = probe_counts
            metrics.probe_rows = sum(probe_counts.values())
    return _tail(
        model, kernel, r, topk, qv, probe_counts, metrics, csr=csr,
        block=block, probes=probes, index=index,
    )


def range_search(
    model: RaBitQModel,
    queries: DataFrame,
    radius_sq: float,
    nprobe: int | None = None,
    rough_cutoff: bool = True,
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """Radius query: all (query_id, neighbor_id, dist) with exact squared-L2
    dist ≤ `radius_sq` among the probed clusters — the range-query sibling
    of top-k search (not in the reference; standard vector-store surface).

    Same stages 1-4 as search(), driver path included, then always the
    jvm join (_rough_candidates, its probe table broadcast if and only if
    the driver built it) and the exact rerank; the shortlist step is a
    FILTER, not a top-R window — no per-query state,
    no window shuffle; the exact rerank is bounded by the rough survivors.
    With `rough_cutoff` the estimator screens candidates at `radius_sq`;
    the estimator is a probabilistic lower bound (error-bound slack,
    src/rabitq.rs:352-363), so the screen may drop a few in-range rows.
    `rough_cutoff=False` + nprobe=n_clusters is the exhaustive
    configuration: provably equal to the brute-force range scan (every
    candidate reranked exactly).
    """
    cfg = model.config
    nprobe = nprobe or cfg.nprobe
    probes, block, probe_counts, qv = _prepare_batch(
        model, queries, query_id, query_vec, nprobe
    )
    cand = _rough_candidates(
        model, block, probes, _pruning_set(model, probe_counts)
    )
    if rough_cutoff:
        cand = cand.filter(F.col("rough") <= F.lit(radius_sq))
    exact = exact_rerank(
        cand.select("query_id", "orig_id"), qv, model.rerank_base, id_col="orig_id"
    )
    return exact.filter(F.col("dist") <= F.lit(radius_sq))
