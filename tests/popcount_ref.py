"""Plane-wise popcount reference for the RaBitQ estimator's integer term.

The engine computes Σ_{j<P, i<B} 2^{i+j}·popcount(qplane_j ∧ bplane_i) two
ways: as unrolled bit_count Column terms (the jvm plan) and as one GEMM of
the unpacked per-dim values (index/search.py::value_gemm_asym, the Arrow
plan). This module keeps the definition itself — a byte-LUT popcount over
AND-ed words — so tests can pin the GEMM against it bit for bit.
"""

import numpy as np

from rabitq_spark.index.search import (
    unpack_plane_values,
    value_gemm_asym,
    value_gemm_dtype,
)

_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def popcount64(arr: np.ndarray) -> np.ndarray:
    """Per-word popcount of an int64 array (byte-LUT sum over 8 bytes)."""
    b = np.ascontiguousarray(arr).view(np.uint8).reshape(*arr.shape, 8)
    return _POPCNT8[b].sum(axis=-1)


def popcount_cross(qplanes: np.ndarray, bplanes: np.ndarray) -> np.ndarray:
    """Reference cross term: qplanes (npairs, P, w) and bplanes (m, B, w)
    packed int64 bit-planes → (npairs, m) int64."""
    npairs, n_q, _ = qplanes.shape
    m, n_b, _ = bplanes.shape
    out = np.zeros((npairs, m), dtype=np.int64)
    for j in range(n_q):
        for i in range(n_b):
            anded = qplanes[:, j, None, :] & bplanes[None, :, i, :]
            out += popcount64(anded).sum(axis=-1) << (i + j)
    return out


def gemm_cross(qplanes: np.ndarray, bplanes: np.ndarray) -> np.ndarray:
    """The engine's Arrow kernel on the same inputs, in the dtype the
    engine picks for this geometry."""
    n_q, n_words = qplanes.shape[1:]
    n_b = bplanes.shape[1]
    dtype = value_gemm_dtype(n_words * 64, n_q, n_b)
    return value_gemm_asym(
        unpack_plane_values(qplanes, n_q, dtype),
        unpack_plane_values(bplanes, n_b, dtype),
    )
