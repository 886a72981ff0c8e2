"""RaBitQ index model: the Spark-shaped equivalent of the reference's
`RaBitQ` struct (src/rabitq.rs:58-69).

Big state lives in DataFrames (index codes+factors, base vectors); small
state (rotation matrix, dither bias, projected centroids) is driver-held
numpy, broadcast to executors — mirroring SURVEY.md §1.1's mapping.

One exception: a SMALL saved model (its base within
vecstore.QUERY_MATRIX_MAX_BYTES, no vec store) is also read once by load()
into driver arrays (`RaBitQModel.resident`, a ResidentIndex), which serve
search() only while the model holds the two frames they were read with.
Index rows on the driver, those arrays or a collect, are a CSRIndex: the
reference's in-process CSR index (src/rabitq.rs:240-252).

Persistence (S6/S7 analogue, src/rabitq.rs:84-156): a directory of
  index/   Parquet, partitioned by cluster_id   (codes + factors + orig_id)
  base/    Parquet                              (orig_id, vec  — unrotated, padded)
  meta.json + arrays.npz                        (dim, config, P, bias, centroids)
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from rabitq_spark.config import RaBitQConfig


def factor_columns(config: RaBitQConfig) -> tuple:
    """The estimator's factor columns of an index row (index/build.py's
    two schemas)."""
    if config.bits_per_dim > 1:
        return ("center_dist_sq", "b_lb", "b_delta", "b_sum")
    return ("center_dist_sq", "factor_ip", "factor_ppc", "error_bound")


@dataclass(eq=False)
class CSRIndex:
    """Index rows in CSR order: cluster c owns rows offsets[c]:offsets[c+1]
    of `orig_id`, `codes` (plane-major int64 words, build_index's `code`)
    and every `factors` column (float32) — what search.score_clusters
    reads, built by `of` from any Arrow table or batch of index rows."""

    offsets: np.ndarray
    orig_id: np.ndarray
    codes: np.ndarray
    factors: dict

    @property
    def nbytes(self) -> int:
        arrays = (self.offsets, self.orig_id, self.codes, *self.factors.values())
        return sum(a.nbytes for a in arrays)

    def cluster(self, c: int) -> tuple:
        """(orig_id, codes, factors) of cluster `c`'s rows, as views."""
        lo, hi = self.offsets[c], self.offsets[c + 1]
        return (
            self.orig_id[lo:hi],
            self.codes[lo:hi],
            {k: v[lo:hi] for k, v in self.factors.items()},
        )

    @classmethod
    def of(cls, t, n_clusters: int, width: int, factors) -> "CSRIndex | None":
        """The rows of `t`, a pyarrow Table or RecordBatch holding
        cluster_id, orig_id, `code` lists of `width` words and the
        `factors` columns, in CSR order (a stable sort by cluster). None
        when a code list has another width."""
        codes = _list_matrix(t.column("code"), width)
        if codes is None:
            return None
        cid = t.column("cluster_id").to_numpy()
        order = np.argsort(cid, kind="stable")
        return cls(
            offsets=np.searchsorted(cid[order], np.arange(n_clusters + 1)),
            orig_id=t.column("orig_id").to_numpy()[order],
            codes=codes[order],
            factors={f: t.column(f).to_numpy()[order] for f in factors},
        )


@dataclass(eq=False)
class ResidentIndex:
    """A small saved model's index and base as driver arrays, read by
    RaBitQModel.load with zero Spark jobs: the index rows as a CSRIndex;
    `base_ids` is sorted and `base_vecs` holds its rows (base_df's padded
    vectors). `index_df`/`base_df` are the frames the arrays were read
    with (describes)."""

    index_df: DataFrame
    base_df: DataFrame
    index: CSRIndex
    base_ids: np.ndarray
    base_vecs: np.ndarray

    @property
    def nbytes(self) -> int:
        return self.index.nbytes + self.base_ids.nbytes + self.base_vecs.nbytes

    def describes(self, model: "RaBitQModel") -> bool:
        """Whether the arrays still stand for `model`'s frames: any
        reassignment of index_df or base_df (a cache(), a tombstone
        resolve, a filter) hands search back to the frames."""
        return model.index_df is self.index_df and model.base_df is self.base_df

    @classmethod
    def read(cls, path: str, model: "RaBitQModel") -> "ResidentIndex | None":
        """The arrays of the model saved at `path` (posix or URI, through
        vecstore._fs_path like the vec store), read with pyarrow: the
        hive-partitioned index/ and base/. None when the Parquet footers'
        row counts differ from model.n_rows — a stale or wrong count must
        not admit a model past the byte bound it was checked against — or
        a column does not have the model's width."""
        import pyarrow.dataset as ds

        from rabitq_spark.index.vecstore import _fs_path, _is_uri

        fs, root = _fs_path(path) if _is_uri(path) else (None, path)
        index = ds.dataset(
            f"{root}/index", filesystem=fs, format="parquet", partitioning="hive"
        )
        base = ds.dataset(f"{root}/base", filesystem=fs, format="parquet")
        n = model.n_rows
        if index.count_rows() != n or base.count_rows() != n:
            return None
        factors = factor_columns(model.config)
        t = index.to_table(columns=["cluster_id", "orig_id", "code", *factors])
        width = model.config.bits_per_dim * model.n_words
        csr = CSRIndex.of(t, model.n_clusters, width, factors)
        b = base.to_table(columns=["orig_id", "vec"])
        vecs = _list_matrix(b["vec"], model.dim_pad)
        if csr is None or vecs is None:
            return None
        ids = b["orig_id"].to_numpy()
        border = np.argsort(ids, kind="stable")
        return cls(model.index_df, model.base_df, csr, ids[border], vecs[border])


def _list_matrix(col, width: int) -> "np.ndarray | None":
    """A list column (chunked or not) whose lists all hold `width` values
    as an (n, width) array, else None."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    lengths = arr.value_lengths().to_numpy(zero_copy_only=False)
    if (lengths != width).any():
        return None
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), width)


def sorted_gather(keys: np.ndarray, rows: np.ndarray, ids: np.ndarray) -> tuple:
    """For sorted unique `ids`, over sorted `keys` and their `rows`:
    (positions into `ids` that `keys` holds, those rows). An id `keys`
    lacks is dropped, the base join's semantics."""
    if len(keys) == 0:
        return np.empty(0, dtype=np.int64), rows[:0]
    where = np.minimum(np.searchsorted(keys, ids), len(keys) - 1)
    hit = keys[where] == ids
    return np.flatnonzero(hit), rows[where[hit]]


@dataclass
class RaBitQModel:
    config: RaBitQConfig
    dim: int          # original dimension
    dim_pad: int      # padded to multiple of 64 (src/rabitq.rs:167-179)
    rotation: "np.ndarray | object"  # dense (dim_pad, dim_pad) orthogonal P, or BlockRotation past the dense ceiling
    rand_bias: np.ndarray       # (dim_pad,) U(0,1) dither
    centroids_proj: np.ndarray  # (k, dim_pad) — projected centroids C·P
    index_df: DataFrame  # cluster_id, orig_id, code[], factor_ip, factor_ppc, error_bound, center_dist_sq
    base_df: DataFrame   # orig_id, vec (original values, padded to dim_pad)
    n_rows: int | None = None  # indexed row count when the builder knows it
    # (never computed with an extra job); lets search() size the rerank
    # width from the exact average cluster size instead of the sqrt(n)
    # approximation
    vec_store: "object | None" = None  # optional VecStore (index/vecstore.py):
    # fixed-width raw sidecar for candidate-bound exact rerank — the disk
    # variant's point-read design (crates/disk/src/cache.rs:115-145). When
    # set, search() stage 7 gathers ONLY candidate rows instead of joining
    # (and thus fully scanning) base_df.
    resident: "ResidentIndex | None" = field(default=None, repr=False)
    # a small loaded model's driver arrays (load(), module docstring)

    @property
    def n_clusters(self) -> int:
        return self.centroids_proj.shape[0]

    @property
    def n_words(self) -> int:
        return self.dim_pad // 64

    @property
    def rerank_base(self):
        """Where stage 7 reads base vectors (vecstore.exact_rerank): the
        vec store when one is attached, else base_df."""
        return self.base_df if self.vec_store is None else self.vec_store

    # -- persistence -------------------------------------------------------

    def save(self, path: str, store_min_rows: int | None = None) -> None:
        """Write index + base Parquet and the numpy/JSON sidecar.

        `path` may be a posix directory or a scheme-qualified URI (s3://,
        s3a://, hdfs://, file://): parquet goes through Spark, the vec
        store and the numpy/JSON sidecars through pyarrow.fs, so a cluster
        can persist a model directly onto the object store its searchers
        load from (load() takes the same URI).

        The index is partitioned by cluster_id so a probe-filtered read
        prunes partitions (the Spark analogue of the reference's CSR posting
        ranges, src/rabitq.rs:240-252 — offsets become partition boundaries).

        A vec-store sidecar (index/vecstore.py — candidate-bound point-read
        rerank) is written when the model already carries one, OR when the
        indexed row count is at/above `store_min_rows` (default
        vecstore.STORE_AUTO_MIN_ROWS): at that scale the O(base) rerank
        join is the measured scale killer, so the scale-safe plan must be
        what a plain save → load → search gets BY DEFAULT, not behind an
        attach_vec_store call the user has to know about. load()
        auto-attaches any sidecar it finds and search() dispatches on it.
        """
        from rabitq_spark.index.vecstore import (
            STORE_AUTO_MIN_ROWS,
            _fs_path,
            _is_uri,
        )

        if store_min_rows is None:
            store_min_rows = STORE_AUTO_MIN_ROWS
        # URI targets (s3://, s3a://, hdfs://, file://, any pyarrow.fs
        # scheme): the index/base parquet and the vec-store sidecar already
        # write through URI-capable layers (Spark, pyarrow.fs); the numpy/
        # JSON sidecars go through pyarrow.fs streams below. The one
        # requirement is a scheme BOTH Spark's Hadoop layer and pyarrow
        # resolve (s3a:// is bridged to pyarrow's s3:// in _fs_path).
        is_uri = _is_uri(path)
        if is_uri:
            fs, root = _fs_path(path)
            fs.create_dir(root, recursive=True)
        else:
            os.makedirs(path, exist_ok=True)
        (
            self.index_df.repartition("cluster_id")
            .sortWithinPartitions("center_dist_sq")
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(f"{path}/index")
        )
        self.base_df.write.mode("overwrite").parquet(f"{path}/base")
        if self.n_rows is not None:
            big = self.n_rows >= store_min_rows
        else:
            # bounded probe (the round-2 dispatch pattern): the decision
            # only needs which SIDE of the threshold the base is on, so
            # read at most store_min_rows rows — never a full-scan count.
            # Reads the just-written parquet, not the (possibly expensive)
            # base_df lineage.
            big = (
                self.base_df.sparkSession.read.parquet(f"{path}/base")
                .limit(store_min_rows)
                .count()
                >= store_min_rows
            )
        if self.vec_store is not None or big:
            # re-materialize the point-read sidecar under the save dir (same
            # values — the store is a pure function of base_df, like index/).
            # Build it from the JUST-WRITTEN base parquet, not self.base_df:
            # the lineage behind base_df may be expensive (it already ran
            # once to write {path}/base) and the parquet holds identical
            # rows by construction.
            from rabitq_spark.index.vecstore import build_vec_store

            build_vec_store(
                self.base_df.sparkSession.read.parquet(f"{path}/base"),
                f"{path}/vecstore", dim=self.dim, n_rows=self.n_rows,
            )
        elif is_uri:
            # overwrite-save of a store-less model must REMOVE a stale
            # sidecar left by a previous occupant of this path: load()
            # auto-attaches any vecstore dir it finds, and index/ + base/
            # were just overwritten — a surviving old store would serve the
            # previous model's vectors to the new model's shortlists
            from rabitq_spark.index.vecstore import VecStore

            if VecStore.exists(f"{path}/vecstore"):
                sfs, sroot = _fs_path(f"{path}/vecstore")
                sfs.delete_dir(sroot)
        elif os.path.isdir(f"{path}/vecstore"):
            # same stale-sidecar removal, posix form
            import shutil

            shutil.rmtree(f"{path}/vecstore")
        from rabitq_spark.index.rotation import BlockRotation

        if isinstance(self.rotation, BlockRotation):
            # block-diagonal rotation (dim > dense ceiling): one array per block
            rot_arrays = {
                f"rotation_block_{i}": b for i, b in enumerate(self.rotation.blocks)
            }
        else:
            rot_arrays = {"rotation": self.rotation}
        meta = {
            "dim": self.dim,
            "dim_pad": self.dim_pad,
            "config": self.config.__dict__,
            "n_rows": self.n_rows,
            "format_version": 1,
        }
        if is_uri:
            import io

            buf = io.BytesIO()
            np.savez(
                buf,
                rand_bias=self.rand_bias,
                centroids_proj=self.centroids_proj,
                **rot_arrays,
            )
            with fs.open_output_stream(f"{root}/arrays.npz") as f:
                f.write(buf.getvalue())
            with fs.open_output_stream(f"{root}/meta.json") as f:
                f.write(json.dumps(meta).encode())
        else:
            np.savez(
                f"{path}/arrays.npz",
                rand_bias=self.rand_bias,
                centroids_proj=self.centroids_proj,
                **rot_arrays,
            )
            with open(f"{path}/meta.json", "w") as f:
                json.dump(meta, f)

    def persist_bucketed(
        self, n_buckets: int = 32, name: str = "rabitq_model"
    ) -> RaBitQModel:
        """Re-persist the big state as BUCKETED tables: index by cluster_id
        (the J2 probes⋈index key), base by orig_id (the J3 rerank key).

        A bucketed scan carries its HashPartitioning into the plan, so the
        rerank join shuffles ONLY the (small) shortlist side into the bucket
        layout — the base table, the 100 TB side, never moves again across
        repeated query batches. Same for a shuffle-mode probe join against
        the index. Returns a model whose DataFrames read from the bucketed
        tables; the numpy sidecar state is shared, not copied.
        """
        from rabitq_spark.sources.tables import write_bucketed

        index = write_bucketed(
            self.index_df, f"{name}_index", "cluster_id", n_buckets
        )
        base = write_bucketed(
            self.base_df, f"{name}_base", "orig_id", n_buckets, sort_col="orig_id"
        )
        return RaBitQModel(
            config=self.config,
            dim=self.dim,
            dim_pad=self.dim_pad,
            rotation=self.rotation,
            rand_bias=self.rand_bias,
            centroids_proj=self.centroids_proj,
            index_df=index,
            base_df=base,
            n_rows=self.n_rows,
            vec_store=self.vec_store,
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> RaBitQModel:
        from rabitq_spark.index.rotation import BlockRotation

        from rabitq_spark.index.vecstore import (
            QUERY_MATRIX_MAX_BYTES,
            VecStore,
            _fs_path,
            _is_uri,
        )

        if _is_uri(path):
            # URI model dir (object/cluster storage): numpy/JSON sidecars
            # read through pyarrow.fs; parquet + vecstore are URI-capable
            # already. np.load needs a seekable file — buffer the (small,
            # rotation-matrix-sized) archive.
            import io

            fs, root = _fs_path(path)
            with fs.open_input_file(f"{root}/meta.json") as f:
                meta = json.load(f)
            with fs.open_input_file(f"{root}/arrays.npz") as f:
                arrays = np.load(io.BytesIO(f.read()))
        else:
            with open(f"{path}/meta.json") as f:
                meta = json.load(f)
            arrays = np.load(f"{path}/arrays.npz")
        if "rotation" in arrays:
            rotation = arrays["rotation"]
        else:
            n_blocks = sum(1 for k in arrays.files if k.startswith("rotation_block_"))
            rotation = BlockRotation(
                [arrays[f"rotation_block_{i}"] for i in range(n_blocks)]
            )
        model = cls(
            config=RaBitQConfig(**meta["config"]),
            dim=meta["dim"],
            dim_pad=meta["dim_pad"],
            rotation=rotation,
            rand_bias=arrays["rand_bias"],
            centroids_proj=arrays["centroids_proj"],
            index_df=spark.read.parquet(f"{path}/index"),
            base_df=spark.read.parquet(f"{path}/base"),
            n_rows=meta.get("n_rows"),
            vec_store=(
                VecStore.open(f"{path}/vecstore")
                if VecStore.exists(f"{path}/vecstore")
                else None
            ),
        )
        # a small model also lives on the driver (module docstring); index
        # rows are narrower than base rows at every bits_per_dim, so the
        # base bound covers both
        if (
            model.vec_store is None
            and model.n_rows is not None
            and model.n_rows * model.dim_pad * 4 <= QUERY_MATRIX_MAX_BYTES
        ):
            model.resident = ResidentIndex.read(path, model)
        return model


def forget_row_count(path: str) -> None:
    """Rewrite the meta.json of the model saved at `path` (posix or URI)
    with n_rows null, atomically (a temp file, then a replace, as the vec
    store writes its meta): for writers that append rows to index/ and
    base/ in place, after which the saved count no longer holds."""
    from rabitq_spark.index.vecstore import _fs_path, _fs_replace, _is_uri

    if _is_uri(path):
        fs, root = _fs_path(path)
        with fs.open_input_file(f"{root}/meta.json") as f:
            meta = json.load(f)
    else:
        with open(f"{path}/meta.json") as f:
            meta = json.load(f)
    meta["n_rows"] = None
    if _is_uri(path):
        with fs.open_output_stream(f"{root}/meta.json.tmp") as f:
            f.write(json.dumps(meta).encode())
        _fs_replace(fs, f"{root}/meta.json.tmp", f"{root}/meta.json")
    else:
        with open(f"{path}/meta.json.tmp", "w") as f:
            json.dump(meta, f)
        os.replace(f"{path}/meta.json.tmp", f"{path}/meta.json")
