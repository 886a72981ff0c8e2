"""The package's one filesystem layer: every file a model, a vec store, an
IVF-PQ index or a stream's state writes or checks goes through here.

A location is a schemeless posix path or a scheme-qualified URI (file://,
s3://, s3a://, hdfs://, any pyarrow.fs scheme). Both resolve to a
pyarrow.fs filesystem and a path inside it — a schemeless path to
LocalFileSystem at os.path.abspath(path) — so the code a posix test runs
is the code a cluster runs against an object store. The one exception is
VecStore.gather's read side (index/vecstore.py): memmaps for a posix
store, bounded range reads for a URI, each the fast path of its storage.

Tables Spark wrote are checked through the Hadoop FileSystem that wrote
them (has_data), which resolves the same strings Spark's writers do.

pyarrow is imported inside the functions: executors that never touch a
file do not pay for the import.
"""

from __future__ import annotations

import io
import json
import os

import numpy as np


def is_uri(path: str) -> bool:
    """True for scheme-qualified paths (file://, s3://, hdfs://, ...)."""
    return "://" in path


def resolve(path: str) -> tuple:
    """(pyarrow filesystem, path inside it) for a posix path or a URI."""
    from pyarrow import fs as pafs

    if not is_uri(path):
        return pafs.LocalFileSystem(), os.path.abspath(path)
    # Hadoop spells the S3 connector "s3a://" while pyarrow.fs spells it
    # "s3://" — a cluster that writes parquet through s3a:// hands the same
    # path string to the sidecar readers
    if path.startswith("s3a://"):
        path = "s3://" + path[len("s3a://"):]
    return pafs.FileSystem.from_uri(path)


def replace(fs, src: str, dst: str) -> None:
    """Move-with-overwrite. On posix-backed filesystems this is an atomic
    rename(2); on object stores it is copy+delete — NOT atomic, a
    concurrent reader can observe dst half-written or briefly absent on
    stores without native rename. That weaker guarantee is safe for the vec
    store's shards because every attempt of a shard task writes identical
    rows (deterministic sort order), so whichever attempt's move lands last
    leaves a complete, correct file."""
    try:
        fs.move(src, dst)
    except OSError:
        # filesystems that refuse to clobber: drop dst and retry once
        try:
            fs.delete_file(dst)
        except FileNotFoundError:
            pass
        fs.move(src, dst)


def write_json(path: str, obj) -> None:
    """`obj` as JSON at `path`, atomically: a temp file, then a replace, so
    a crash mid-write never leaves a present-but-truncated file (a meta.json
    is its directory's existence marker)."""
    fs, p = resolve(path)
    # compression=None on every stream here: pyarrow's default "detect"
    # picks a codec from the file extension
    with fs.open_output_stream(p + ".tmp", compression=None) as f:
        f.write(json.dumps(obj).encode())
    replace(fs, p + ".tmp", p)


def read_json(path: str):
    fs, p = resolve(path)
    with fs.open_input_file(p) as f:
        return json.loads(f.read())


def write_npz(path: str, **arrays) -> None:
    """np.savez of `arrays` at `path`, through a byte buffer."""
    buf = io.BytesIO()
    np.savez(buf, **arrays)
    fs, p = resolve(path)
    with fs.open_output_stream(p, compression=None) as f:
        f.write(buf.getvalue())


def read_npz(path: str):
    """np.load of the archive at `path`, buffered: np.load needs a seekable
    file, and the archives here hold small driver state."""
    fs, p = resolve(path)
    with fs.open_input_file(p) as f:
        return np.load(io.BytesIO(f.read()))


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def exists(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def remove_dir(path: str) -> None:
    """Delete the directory at `path` and everything under it; no-op when
    it is absent."""
    fs, p = resolve(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def has_data(spark, path: str) -> bool:
    """Whether the table Spark wrote at `path` exists and holds a data
    entry (a name not starting with "_" or "."), checked through the Hadoop
    FileSystem that wrote it."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    return any(
        not status.getPath().getName().startswith(("_", "."))
        for status in fs.listStatus(hpath)
    )
