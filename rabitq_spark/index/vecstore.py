"""Fixed-width raw vector store for candidate-bound exact rerank.

Why this exists (the measured 10M-row finding, BENCH_r08 `scale10m`): the
exact-rerank join `shortlist ⋈ base_df` is O(base), not O(candidates) —
top-k candidate ids are uniformly spread over the id range, so at ~1.6%
candidate density EVERY Parquet row group (and every page) contains
candidates and min/max pruning, page indexes, and bloom filters all
degrade to a full scan of the 10 GB vector column. Columnar formats
cannot point-read rows; a candidate-bound rerank needs row-level random
access.

This module is the Spark re-expression of the reference disk variant's
candidate block fetches (crates/disk/src/cache.rs:115-145 — the searcher
fetches ONLY the blocks holding shortlist candidates, each one a bounded
range read) and its S3 range-GET design (crates/disk/src/reader.rs): rows
live at `ordinal * dim * 4` inside fixed-width float32 shard files, so one
candidate costs one bounded read regardless of how ids spread across the
base. Two gather branches behind the same interface: a posix store path is
served by np.memmap gathers (page-cached); a scheme-qualified URI
(s3://, hdfs://, file://, any pyarrow.fs scheme) is served by genuine
byte-range reads (`read_at`) — one bounded read per candidate run, the
direct analogue of the reference disk variant's S3 range-GETs. Only the
(small) sorted id arrays are cached per shard; vector bytes never are.
The write side has one branch for both: build_vec_store streams every
shard and meta.json through pyarrow.fs (rabitq_spark._fs, where a posix
path is a LocalFileSystem path), and open/exists read through the same
layer.

Layout under `dir/`:
    meta.json             dim, row count, shard table (min_id/max_id/count)
    shard_{i:05d}.vec     raw little-endian float32, count x dim
    shard_{i:05d}.ids     raw little-endian int64, count (sorted ascending)

Shards are id-range partitions (repartitionByRange), ids sorted within, so
candidate lookup is: searchsorted over shard max_ids -> shard, searchsorted
in the shard's id array -> ordinal -> one row read. Arbitrary (sparse,
non-contiguous) int64 ids are supported; ordinals, not ids, index the rows.

Vectors are stored UNPADDED (the first `dim` floats): the exact-rerank
fold over padded arrays only ever adds (0-0)^2 = +0.0 terms at the tail,
and x + 0.0 == x bit-for-bit for the non-negative partial sums involved,
so folding the unpadded prefix is bit-identical to the padded fold
(asserted in tests/test_vecstore.py).

The module also holds the one exact rerank (exact_rerank, and exact_topk
with the final top-k): every shortlist-then-exact plan in the package
scores its shortlist there, against a store or a base DataFrame, with the
query batch on the driver or in a DataFrame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabitq_spark import _fs
from rabitq_spark.functions.vector import l2_squared

# Rows at or past this count get a store built automatically on
# RaBitQModel.save(): the O(base) rerank join is measurably the scale
# killer there (BENCH_r08 scale10m read the full 10 GB vector column per
# batch), while below it the broadcast-shortlist join is competitive and
# the extra shard write is pure overhead.
STORE_AUTO_MIN_ROWS = 500_000

# Executor-process-local memmap cache: one (ids, vec) memmap pair per shard
# file, reused across Arrow batches and queries. Keyed by file identity
# (path + mtime + size), not path alone: Spark reuses Python worker
# processes across jobs (spark.python.worker.reuse), so a store REBUILT
# into the same directory would otherwise be served by memmaps of the old
# shard files. Never pickled (VecStore instances ship only dir + meta).
_MM_CACHE: dict = {}


def _shard_mmaps(store_dir: str, shard: dict, dim: int):
    base = os.path.join(store_dir, shard["name"])
    st = os.stat(base + ".vec")
    want = shard["count"] * dim * 4
    if st.st_size != want:
        raise OSError(
            f"vec store shard {base}.vec is {st.st_size} bytes, expected "
            f"{want} (count {shard['count']} x dim {dim} x 4) — truncated "
            "or partially-written store"
        )
    key = (base, st.st_mtime_ns, st.st_size)
    hit = _MM_CACHE.get(key)
    if hit is None:
        # evict prior-generation entries for the SAME shard path before
        # inserting: a store rebuilt into the same directory changes the
        # file identity, and long-lived reused worker processes would
        # otherwise accumulate the old generation's memmaps (and their
        # file descriptors) forever (round-9 advisor)
        for k in [k for k in _MM_CACHE if k[0] == base]:
            del _MM_CACHE[k]
        ids = np.memmap(
            base + ".ids", dtype="<i8", mode="r", shape=(shard["count"],)
        )
        vec = np.memmap(
            base + ".vec", dtype="<f4", mode="r", shape=(shard["count"], dim)
        )
        hit = (ids, vec)
        _MM_CACHE[key] = hit
    return hit


# URI-store shard-id cache: the (small) sorted id array per shard, keyed by
# file identity like _MM_CACHE. The VECTOR bytes are never cached — each
# gather issues one bounded range read per candidate run, the point of the
# object-store branch.
_URI_ID_CACHE: dict = {}

#: Byte bound for a query matrix that a rerank ships as ONE broadcast:
#: the (nq, dim) float64 block (4096 queries at dim 256) of search()'s
#: stage 7 (_query_side), search_adaptive and the PQ scans, which pass it
#: to collect_queries; larger batches keep their Spark-side plans. Every
#: Python worker running the rerank holds its own copy of the matrix, so
#: memory grows with matrix bytes × concurrent workers. Measured on
#: local[32] (4 cores, 15 GB host, dim 256, median search wall, driver
#: path vs executor path): 1000 queries 1.6 vs 2.4 s, 2000 queries 1.4
#: vs 2.1 s, 4000 queries 1.9 vs 2.3 s, 8000 queries 4.4 vs 3.8 s with
#: peak RSS +0.8 GB; a 120k-query batch got the JVM killed for memory.
QUERY_MATRIX_MAX_BYTES = 8 << 20


def _uri_shard_ids(fs, path_in_fs: str, shard: dict) -> np.ndarray:
    ids_path = f"{path_in_fs}/{shard['name']}.ids"
    info = fs.get_file_info(ids_path)
    # some pyarrow filesystems report mtime_ns as None — fall back to a
    # size-only key rather than keying every generation identically None
    key = (ids_path, info.size, info.mtime_ns or info.mtime or 0)
    hit = _URI_ID_CACHE.get(key)
    if hit is None:
        want = shard["count"] * 8
        if info.size != want:
            raise OSError(
                f"vec store shard {ids_path} is {info.size} bytes, expected "
                f"{want} — truncated or partially-written store"
            )
        for k in [k for k in _URI_ID_CACHE if k[0] == ids_path]:
            del _URI_ID_CACHE[k]
        with fs.open_input_file(ids_path) as f:
            hit = np.frombuffer(f.read(), dtype="<i8")
        _URI_ID_CACHE[key] = hit
    return hit


def _uri_gather_shard(
    fs, path_in_fs: str, shard: dict, dim: int, ords: np.ndarray
) -> np.ndarray:
    """Bounded range reads for the ordinals of ONE shard: sorted ordinals
    are coalesced into contiguous runs, each run one `read_at` — the byte-
    range-GET the reference disk variant issues per candidate block
    (crates/disk/src/cache.rs:115-145, crates/disk/src/reader.rs). Cost is
    O(candidate rows) reads, never O(shard)."""
    row_bytes = dim * 4
    vec_path = f"{path_in_fs}/{shard['name']}.vec"
    info = fs.get_file_info(vec_path)
    want = shard["count"] * row_bytes
    if info.size != want:
        # mirror the .ids check: a truncated or partially-written .vec
        # shard must fail with a diagnostic, not a short-buffer reshape
        raise OSError(
            f"vec store shard {vec_path} is {info.size} bytes, expected "
            f"{want} — truncated or partially-written store"
        )
    order = np.argsort(ords, kind="stable")
    sorted_ords = ords[order]
    out_sorted = np.empty((len(ords), dim), dtype=np.float32)
    with fs.open_input_file(vec_path) as f:
        run_start = 0
        for i in range(1, len(sorted_ords) + 1):
            # a run extends over consecutive OR duplicate ordinals (the
            # same neighbor can be a candidate for many queries in one
            # Arrow batch)
            if (
                i == len(sorted_ords)
                or sorted_ords[i] - sorted_ords[i - 1] > 1
            ):
                lo, hi = sorted_ords[run_start], sorted_ords[i - 1]
                buf = f.read_at((hi - lo + 1) * row_bytes, lo * row_bytes)
                out_sorted[run_start:i] = np.frombuffer(
                    buf, dtype="<f4"
                ).reshape(-1, dim)[sorted_ords[run_start:i] - lo]
                run_start = i
    out = np.empty_like(out_sorted)
    out[order] = out_sorted
    return out


@dataclass
class VecStore:
    """Handle to a built store. Cheap to pickle into task closures: holds
    only the directory path and the (small) shard table."""

    dir: str
    dim: int
    n_rows: int
    shards: list  # [{name, count, min_id, max_id}], ordered by min_id

    @classmethod
    def open(cls, store_dir: str) -> "VecStore":
        meta = _fs.read_json(f"{store_dir}/meta.json")
        return cls(
            dir=store_dir,
            dim=meta["dim"],
            n_rows=meta["n_rows"],
            shards=meta["shards"],
        )

    @staticmethod
    def exists(store_dir: str) -> bool:
        return _fs.exists(f"{store_dir}/meta.json")

    def gather(self, ids: np.ndarray) -> np.ndarray:
        """(n, dim) float32 rows for int64 `ids`, in the order given.
        One bounded read per candidate row — O(candidates), never O(base).
        Raises KeyError on an id the store does not hold (a shortlist id
        always comes from an index built over the same base, so a miss is
        a wiring bug, not a data condition)."""
        ids = np.ascontiguousarray(ids, dtype=np.int64)
        out = np.empty((len(ids), self.dim), dtype=np.float32)
        if len(ids) == 0:
            return out
        max_ids = np.array([s["max_id"] for s in self.shards], dtype=np.int64)
        which = np.searchsorted(max_ids, ids, side="left")
        if which.max(initial=-1) >= len(self.shards):
            bad = ids[which >= len(self.shards)][0]
            top = int(max_ids[-1]) if len(max_ids) else "<empty store>"
            raise KeyError(f"id {bad} beyond store max {top}")
        uri = _fs.is_uri(self.dir)
        fs = path_in_fs = None
        if uri:
            fs, path_in_fs = _fs.resolve(self.dir)
        for si in np.unique(which):
            sel = np.flatnonzero(which == si)
            if uri:
                sid_mm = _uri_shard_ids(fs, path_in_fs, self.shards[si])
            else:
                sid_mm, vec_mm = _shard_mmaps(
                    self.dir, self.shards[si], self.dim
                )
            ords = np.searchsorted(sid_mm, ids[sel])
            if (ords >= len(sid_mm)).any() or (
                np.asarray(sid_mm[np.minimum(ords, len(sid_mm) - 1)])
                != ids[sel]
            ).any():
                miss = ids[sel][
                    np.asarray(sid_mm[np.minimum(ords, len(sid_mm) - 1)])
                    != ids[sel]
                ][0]
                raise KeyError(f"id {miss} not in vec store {self.dir}")
            if uri:
                out[sel] = _uri_gather_shard(
                    fs, path_in_fs, self.shards[si], self.dim, ords
                )
            else:
                out[sel] = vec_mm[ords]
        return out


def build_vec_store(
    base: DataFrame,
    store_dir: str,
    dim: int,
    id_col: str = "orig_id",
    vec_col: str = "vec",
    n_shards: int | None = None,
    n_rows: int | None = None,
    target_shard_bytes: int = 128 << 20,
) -> VecStore:
    """Write the store from a (id, vec) DataFrame: ONE range shuffle keyed
    by id, then each task streams its sorted batches to a raw shard file —
    O(n) sequential writes, no driver materialization. `vec` may be padded;
    only the first `dim` floats per row are stored.

    The directory must be visible to every executor: a posix path (local
    disk in local-mode, a shared mount on a cluster) or a scheme-qualified
    URI (s3://, hdfs://, file://, any pyarrow.fs scheme). Each shard is
    written through a pyarrow.fs output stream (_fs), so a cluster can
    build DIRECTLY onto the object store the searchers will range-GET
    from, under attempt-unique temp names + move-with-overwrite; note the
    weaker atomicity of object-store "rename" (_fs.replace)."""
    from pyspark import TaskContext

    from rabitq_spark._dist import ensure_package_on_executors

    # the shard writer below imports _fs on the executors
    ensure_package_on_executors(base.sparkSession)
    _fs.makedirs(store_dir)
    row_bytes = dim * 4
    if n_shards is None:
        if n_rows:
            # ~128 MB shards: big enough for sequential-write efficiency,
            # small enough that one task's sorted stream fits comfortably
            n_shards = max(1, (n_rows * row_bytes) // target_shard_bytes)
        else:
            n_shards = int(
                base.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )

    def write(it):
        import pandas as pd

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        name = f"shard_{pid:05d}"
        # attempt-unique temp names + move-with-overwrite: a speculative or
        # zombie duplicate attempt of this partition must never interleave
        # bytes with the winning attempt's files (both attempts write the
        # same rows, so whichever rename lands last leaves a complete file)
        suffix = f".tmp{ctx.taskAttemptId()}"
        fs, root = _fs.resolve(store_dir)
        vec_path = f"{root}/{name}.vec"
        ids_path = f"{root}/{name}.ids"
        count = 0
        min_id = None
        max_id = None
        with fs.open_output_stream(
            vec_path + suffix, compression=None
        ) as fv, fs.open_output_stream(ids_path + suffix, compression=None) as fi:
            for pdf in it:
                ids = pdf["__id"].to_numpy(dtype="<i8")
                if len(ids) == 0:
                    continue
                vecs = np.vstack(pdf["__vec"].to_numpy())[:, :dim].astype(
                    "<f4", copy=False
                )
                fi.write(np.ascontiguousarray(ids).tobytes())
                fv.write(np.ascontiguousarray(vecs).tobytes())
                count += len(ids)
                min_id = int(ids[0]) if min_id is None else min_id
                max_id = int(ids[-1])
        if count == 0:
            fs.delete_file(vec_path + suffix)
            fs.delete_file(ids_path + suffix)
            return
        _fs.replace(fs, vec_path + suffix, vec_path)
        _fs.replace(fs, ids_path + suffix, ids_path)
        yield pd.DataFrame(
            {
                "name": [name],
                "count": [count],
                "min_id": [min_id],
                "max_id": [max_id],
            }
        )

    rows = (
        base.select(
            F.col(id_col).cast("bigint").alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
        .repartitionByRange(n_shards, "__id")
        .sortWithinPartitions("__id")
        .mapInPandas(write, "name string, count bigint, min_id bigint, max_id bigint")
        .collect()
    )
    shards = sorted(
        (r.asDict() for r in rows), key=lambda s: s["min_id"]
    )
    n_rows = sum(s["count"] for s in shards)
    meta = {
        "dim": dim,
        "n_rows": n_rows,
        "row_bytes": row_bytes,
        "shards": shards,
        "format_version": 1,
    }
    # meta.json is the store's existence marker: written atomically, so a
    # crash mid-write never leaves a file that passes exists() and then
    # fails open()
    _fs.write_json(f"{store_dir}/meta.json", meta)
    return VecStore(dir=store_dir, dim=dim, n_rows=n_rows, shards=shards)


def collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    row_bytes: int,
    max_bytes: int,
) -> "pd.DataFrame | None":
    """ONE bounded job: the (id, vec) rows of a query batch as pandas when
    they fit the caller's byte cap `max_bytes` at `row_bytes` per row
    (the caller's driver copies of one query), else None (the cap + 1
    rows fetched to decide are discarded)."""
    cap_rows = max_bytes // max(row_bytes, 1)
    pdf = queries.select(id_col, vec_col).limit(cap_rows + 1).toPandas()
    return None if len(pdf) > cap_rows else pdf


def query_matrix(vecs, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix of a column of query arrays, cut to the
    first `dim` entries. f32→f64 is value-exact and f64 stays itself, so
    l2_fold sees exactly the operands the Column fold's cast builds."""
    if len(vecs) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.vstack(vecs).astype(np.float64)[:, :dim]


def l2_fold(q64: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Exact squared L2 per row — functions.vector.l2_squared in numpy:
    elementwise f64 operands, (q−v)² in double, left-to-right accumulation
    from 0.0, so the result is bit-identical to the Column fold. Folding
    the unpadded prefix is safe: a zero tail on both sides adds exact +0.0
    terms. The fold of exact_rerank's two numpy kernels, `rr` and
    `rr_join`, and of search's driver tail.

    Folded in blocks of 1024 rows: each block's (rows, dim) float64
    squares stay in cache across the dim strided column passes, where one
    (35k, 128) temporary missed cache on every row (61 ms against 21-27 ms
    blocked, 4-core VM); every row still accumulates left to right."""
    from rabitq_spark.functions.scratch import scratch

    n, dim = v.shape
    acc = np.zeros(n, dtype=np.float64)
    for s in range(0, n, 1024):
        e = min(s + 1024, n)
        d = scratch("rerank_d", (e - s, dim))
        # a float64 loop: f32→f64 is value-exact, as v.astype would be
        np.subtract(q64[s:e], v[s:e], out=d, dtype=np.float64)
        np.multiply(d, d, out=d)
        a = acc[s:e]
        for j in range(dim):
            np.add(a, d[:, j], out=a)
    return acc


def _rerank_schema(rows: DataFrame):
    """(query_id, neighbor_id bigint, dist double), query_id typed as in
    `rows`."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    return StructType(
        [
            StructField("query_id", rows.schema["query_id"].dataType, True),
            StructField("neighbor_id", LongType(), True),
            StructField("dist", DoubleType(), True),
        ]
    )


def matrix_rerank(
    rows: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    id_col: str,
    vectors,
) -> DataFrame:
    """(query_id, neighbor_id, dist) for candidate `rows` (query_id,
    <id_col>, ...): the (nq, dim) float64 query matrix rides ONE broadcast
    variable, the kernel `rr` indexes it by query_id and folds each row
    against `vectors(pdf, ids)` — its (n, dim) base rows — with l2_fold.
    Rows whose query_id is not in `qids` contribute nothing (inner-join
    semantics); `qids` must be unique. query_id passes through UNCAST —
    the join plans this replaces preserve arbitrary query_id types."""
    import pandas as pd

    from rabitq_spark._dist import ensure_package_on_executors
    from rabitq_spark.functions.scratch import scratch

    spark = rows.sparkSession
    ensure_package_on_executors(spark)
    dim = qmat.shape[1]
    bc = spark.sparkContext.broadcast(
        (np.asarray(qids).tolist(), np.ascontiguousarray(qmat))
    )

    def rr(it):
        posmap = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if posmap is None:
                ids_q, qm = bc.value
                posmap = pd.Series(
                    np.arange(len(ids_q), dtype=np.int64), index=ids_q
                )
            pos = pdf["query_id"].map(posmap)
            if pos.isna().any():
                keep = pos.notna()
                pdf = pdf[keep]
                pos = pos[keep]
                if len(pdf) == 0:
                    continue
            ix = pos.to_numpy(dtype=np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            q64 = scratch("rerank_q", (len(ids), dim))
            np.take(qm, ix, axis=0, out=q64)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": ids,
                    "dist": l2_fold(q64, vectors(pdf, ids)),
                }
            )

    return rows.mapInPandas(rr, _rerank_schema(rows))


def exact_rerank(
    shortlist: DataFrame,
    qv,
    base,
    metrics=None,
    id_col: str = "neighbor_id",
) -> DataFrame:
    """The exact rerank of every shortlist-then-exact plan (search,
    range_search, each search_adaptive wave, the PQ and SQ8 families, the
    JL-projected IVF): (query_id, neighbor_id, dist), dist the exact
    squared L2 of functions.vector.l2_squared (reference
    src/utils.rs:139-152, src/rerank.rs:62-114). Never collects.

    `shortlist` is (query_id, <id_col>). `qv` is the query batch, either
    on the driver as an (ids, (nq, dim) float64 matrix) pair with unique
    ids, or a DataFrame (query_id, __qvec). `base` is a VecStore or a
    DataFrame (<id_col>, vec, ...); a vector may be zero-padded past the
    query's width (the tail adds +0.0 terms).

    One plan per cell, all bit-identical (tests/test_vecstore.py):

    * matrix + store: `rr` gathers each candidate's row from the store,
      O(candidates) reads (the disk variant's point reads,
      crates/disk/src/cache.rs:115-145), and folds it against its query's
      row of the matrix, which rides ONE broadcast variable.
    * matrix + base: shortlist ⋈ base, then `rr`. The scan is O(base):
      spread-out candidate ids defeat row-group pruning (10M x 256 read
      the full 10 GB vector column).
    * DataFrame + store: shortlist ⋈ broadcast(qv), then `rr_join`
      gathers and folds.
    * DataFrame + base: shortlist ⋈ base ⋈ broadcast(qv), then the
      l2_squared Column fold.

    `metrics.rerank`, when wired, observes `rerank_base_rows`: the rows the
    rerank read from base storage (the base row count for a DataFrame, the
    candidate count for a store)."""

    def observed(df: DataFrame) -> DataFrame:
        if metrics is None:
            return df
        return df.observe(
            metrics.rerank, F.count(F.lit(1)).alias("rerank_base_rows")
        )

    if isinstance(base, VecStore):
        dim = base.dim
        if isinstance(qv, DataFrame):
            from rabitq_spark._dist import ensure_package_on_executors

            ensure_package_on_executors(shortlist.sparkSession)
            joined = observed(shortlist.join(F.broadcast(qv), "query_id"))

            def rr_join(it):
                import pandas as pd

                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    ids = pdf[id_col].to_numpy(dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "query_id": pdf["query_id"],
                            "neighbor_id": ids,
                            "dist": l2_fold(
                                query_matrix(pdf["__qvec"].to_numpy(), dim),
                                base.gather(ids),
                            ),
                        }
                    )

            return joined.mapInPandas(rr_join, _rerank_schema(joined))
        qids, qmat = qv
        # counted ABOVE the kernel, which emits one row per candidate: a
        # CollectMetrics node directly above the top-R filter would defeat
        # the WindowGroupLimit pre-shuffle trim (bisected +135 s at 10M —
        # metrics.py)
        return observed(
            matrix_rerank(
                shortlist.select("query_id", id_col),
                qids,
                qmat[:, :dim],
                id_col,
                lambda pdf, ids: base.gather(ids),
            )
        )
    rows = shortlist.join(observed(base), id_col)
    if isinstance(qv, DataFrame):
        return rows.join(F.broadcast(qv), "query_id").select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            l2_squared(F.col("__qvec"), F.col("vec")).alias("dist"),
        )
    qids, qmat = qv
    dim = qmat.shape[1]
    return matrix_rerank(
        rows.select("query_id", id_col, "vec"),
        qids,
        qmat,
        id_col,
        lambda pdf, ids: np.vstack(pdf["vec"].to_numpy())[:, :dim],
    )


def exact_topk(
    shortlist: DataFrame,
    qv,
    base,
    k: int,
    metrics=None,
    id_col: str = "neighbor_id",
) -> DataFrame:
    """exact_rerank, then the final top-k per query on (dist, neighbor_id):
    (query_id, neighbor_id, dist, rank), rank 1-based."""
    from rabitq_spark.operators.topk import topk_per_group

    exact = exact_rerank(shortlist, qv, base, metrics, id_col)
    return topk_per_group(
        exact, ["query_id"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    ).select("query_id", "neighbor_id", "dist", "rank")


def attach_vec_store(model, store_dir: str) -> "VecStore":
    """Build (if absent) and attach a store for `model.base_df`; search()
    then reranks candidate-bound through it. Reuses an existing store at
    `store_dir` without a job — callers own cache invalidation (a store is
    a function of the base data, exactly like the index itself)."""
    if VecStore.exists(store_dir):
        store = VecStore.open(store_dir)
    else:
        store = build_vec_store(
            model.base_df, store_dir, dim=model.dim, n_rows=model.n_rows
        )
    model.vec_store = store
    return store
