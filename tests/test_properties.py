"""Property-based tests (hypothesis) for the kernel layer — SURVEY §5.2/5.3.

Strategy sizes are kept small: each example round-trips through a Spark job.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from rabitq_spark.index.build import pack_signs
from rabitq_spark.sources.vecs import decode_vecs_bytes, write_vecs

# pure-python/numpy properties (no Spark in the loop -> many examples)


@given(
    st.lists(
        st.lists(st.floats(-1e6, 1e6, width=32), min_size=1, max_size=40),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=50, deadline=None)
def test_vecs_roundtrip_property(tmp_path_factory, vecs):
    path = str(tmp_path_factory.mktemp("v") / "x.fvecs")
    arrs = [np.asarray(v, np.float32) for v in vecs]
    write_vecs(path, arrs, "fvecs")
    back = decode_vecs_bytes(open(path, "rb").read(), "fvecs")
    assert len(back) == len(arrs)
    for a, b in zip(arrs, back):
        np.testing.assert_array_equal(a, b)


@given(st.integers(1, 8), st.integers(0, 2**32))
@settings(max_examples=100, deadline=None)
def test_pack_signs_bit_semantics(n_words, seed):
    rng = np.random.default_rng(seed)
    dim = n_words * 64
    mat = rng.standard_normal((3, dim)).astype(np.float32)
    mat[rng.random((3, dim)) < 0.1] = 0.0  # zeros must NOT set bits
    packed = pack_signs(mat)
    assert packed.shape == (3, n_words)
    for r in range(3):
        bits = np.unpackbits(
            packed[r].view(np.uint8), bitorder="little"
        ).astype(bool)
        np.testing.assert_array_equal(bits[:dim], mat[r] > 0)


def test_rough_expr_matches_scalar_model(spark):
    """D5 rough-distance Column expression evaluated by Spark, cross-checked
    against an independent scalar reimplementation of the reference formula
    (src/rabitq.rs:336-367) on random inputs — covers the slice indexing,
    bit ops, and float32->double promotions in the codegen tree."""
    from rabitq_spark.index.search import rough_distance_expr

    rng = np.random.default_rng(0)
    n_words = 2
    rows = []
    for i in range(64):
        rows.append(
            {
                "i": i,
                "code": rng.integers(0, 2**63, n_words, dtype=np.int64).tolist(),
                "qplanes": rng.integers(0, 2**63, 4 * n_words, dtype=np.int64).tolist(),
                "center_dist_sq": float(np.float32(rng.random() * 4)),
                "y_c_dist_sq": float(np.float32(rng.random() * 4)),
                "lower_bound": float(np.float32(rng.standard_normal())),
                "scalar_sum": float(np.float32(rng.integers(0, 15 * 64))),
                "delta": float(np.float32(rng.random() * 0.1)),
                "factor_ip": float(np.float32(-rng.random())),
                "factor_ppc": float(np.float32(rng.standard_normal())),
                "error_bound": float(np.float32(rng.random())),
            }
        )
    schema = (
        "i int, code array<bigint>, qplanes array<bigint>, "
        "center_dist_sq float, y_c_dist_sq float, lower_bound float, "
        "scalar_sum float, delta float, factor_ip float, factor_ppc float, "
        "error_bound float"
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r.i: r.rough
        for r in df.select("i", rough_distance_expr(4, n_words).alias("rough")).collect()
    }
    for row in rows:
        asym = 0
        for p in range(4):
            plane = row["qplanes"][p * n_words : (p + 1) * n_words]
            asym += sum(
                bin((int(c) & int(q)) & ((1 << 64) - 1)).count("1")
                for c, q in zip(row["code"], plane)
            ) << p
        want = (
            np.float64(np.float32(row["center_dist_sq"]))
            + np.float64(np.float32(row["y_c_dist_sq"]))
            + np.float64(np.float32(row["lower_bound"]))
            * np.float64(np.float32(row["factor_ppc"]))
            + (2.0 * asym - np.float64(np.float32(row["scalar_sum"])))
            * np.float64(np.float32(row["factor_ip"]))
            * np.float64(np.float32(row["delta"]))
            - np.float64(np.float32(row["error_bound"]))
            * np.sqrt(np.float64(np.float32(row["y_c_dist_sq"])))
        )
        assert abs(got[row["i"]] - want) < 1e-6 * max(1.0, abs(want))


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-50.0, max_value=50.0, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    splits=st.integers(min_value=1, max_value=5),
)
def test_matview_merge_associative_property(vals, splits):
    """Any partitioning of rows into increments merges to the same exact
    DECIMAL state as one aggregation — the invariant behind incremental_agg
    and stream_incremental_agg (checked here in pure decimal arithmetic)."""
    from decimal import Decimal

    def dec(x):
        return Decimal(str(round(x, 4)))

    rows = [dec(v) for v in vals]
    # one-shot state
    total = sum(rows, Decimal(0))
    # arbitrary increment partitioning, merged by addition
    k = max(1, len(rows) // splits)
    merged = Decimal(0)
    for i in range(0, len(rows), k):
        merged += sum(rows[i : i + k], Decimal(0))
    assert merged == total


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_ppm_bmp_decode_roundtrip_property(seed):
    from rabitq_spark.operators.multimodal import decode_bmp, decode_ppm

    rng = np.random.RandomState(seed)
    h, w = int(rng.randint(1, 9)), int(rng.randint(1, 9))
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    ppm = f"P6\n{w} {h}\n255\n".encode() + img.tobytes()
    assert (decode_ppm(ppm) == img).all()
    stride = (w * 3 + 3) & ~3
    rows = b"".join(
        img[y, :, ::-1].tobytes().ljust(stride, b"\x00")
        for y in range(h - 1, -1, -1)
    )
    header = (
        b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    assert (decode_bmp(header + rows) == img).all()


@settings(max_examples=20, deadline=None)
@given(
    members=st.sets(st.integers(min_value=0, max_value=10_000), max_size=40),
    probes=st.sets(st.integers(min_value=0, max_value=10_000), max_size=40),
)
def test_bloom_position_math_no_false_negatives(members, probes):
    """Pure-python mirror of the md5 bit derivation: members always pass."""
    import hashlib

    def bits(v, k=3, m=4096):
        return {
            int(hashlib.md5(f"{v}#bloom{j}".encode()).hexdigest()[:15], 16) % m
            for j in range(k)
        }

    filt = set()
    for v in members:
        filt |= bits(v)
    # no false negatives, ever (false positives are allowed by contract)
    for v in members:
        assert bits(v) <= filt


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(min_value=0, max_value=1000))
def test_asof_backward_matches_pandas_merge_asof(spark, seed):
    """Random (key, ts) frames: asof_join_backward must agree with pandas'
    reference merge_asof implementation (direction='backward')."""
    import pandas as pd

    rng = np.random.RandomState(seed)
    nl, nr = 25, 30
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 4, nl),
            "ts": rng.randint(0, 100, nl).astype("int64"),
            "lid": np.arange(nl, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 4, nr),
            "ts": rng.randint(0, 100, nr).astype("int64"),
            "payload": rng.randint(0, 1000, nr).astype("int64"),
        }
    )
    # unique (k, ts) on the right: merge_asof picks the LAST among equal
    # timestamps by input order, our operator by tie_col — dedupe to make
    # the reference unambiguous
    right = right.drop_duplicates(["k", "ts"], keep="last").reset_index(drop=True)
    right["rid"] = np.arange(len(right), dtype="int64")

    from rabitq_spark.operators.asof import asof_join_backward

    got = (
        asof_join_backward(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_payload=("payload",),
            tie_col="rid",
        )
        .toPandas()
        .sort_values("lid", ignore_index=True)
    )
    want = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        right.sort_values("ts", kind="stable"),
        on="ts",
        by="k",
        direction="backward",
        suffixes=("", "_r"),
    ).sort_values("lid", ignore_index=True)
    got_payload = got["asof_payload"].astype("float64")
    want_payload = want["payload"].astype("float64")
    assert got_payload.equals(want_payload), (seed, got, want)


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(min_value=0, max_value=1000))
def test_asof_all_directions_nulls_tolerance_match_pandas(spark, seed):
    """Random frames with NULL payloads, all three directions, with and
    without tolerance: the as-of family must agree with pandas merge_asof
    — including the round-5 ADVICE case where the MATCHED row's payload is
    NULL (the single-struct carry keeps it NULL instead of leaking an
    older row's value)."""
    import pandas as pd

    from rabitq_spark.operators.asof import (
        asof_join_backward,
        asof_join_forward,
        asof_join_nearest,
    )

    rng = np.random.RandomState(seed)
    nl, nr = 20, 25
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 3, nl),
            "ts": rng.randint(0, 60, nl).astype("int64"),
            "lid": np.arange(nl, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 3, nr),
            "ts": rng.randint(0, 60, nr).astype("int64"),
            "payload": rng.randint(0, 1000, nr).astype("float64"),
        }
    )
    right.loc[rng.random(nr) < 0.35, "payload"] = np.nan  # NULLs to carry
    right = right.drop_duplicates(["k", "ts"], keep="last").reset_index(drop=True)
    right["rid"] = np.arange(len(right), dtype="int64")

    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    funcs = {
        "backward": asof_join_backward,
        "forward": asof_join_forward,
        "nearest": asof_join_nearest,
    }
    for direction, fn in funcs.items():
        for tol in (None, 7):
            got = (
                fn(
                    sl, sr, on="k", left_ts="ts", right_ts="ts",
                    right_payload=("payload",), tie_col="rid",
                    tolerance=tol,
                )
                .toPandas()
                .sort_values("lid", ignore_index=True)["asof_payload"]
                .astype("float64")
            )
            want = (
                pd.merge_asof(
                    left.sort_values("ts", kind="stable"),
                    right.sort_values("ts", kind="stable"),
                    on="ts",
                    by="k",
                    direction=direction,
                    tolerance=tol,
                    suffixes=("", "_r"),
                )
                .sort_values("lid", ignore_index=True)["payload"]
                .astype("float64")
            )
            pd.testing.assert_series_equal(got, want, check_names=False)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 8),   # theta_log_dim (query planes)
    st.integers(1, 8),   # bits_per_dim (base planes)
    st.integers(1, 8),   # n_words (dim_pad = 64·w)
    st.integers(1, 40),  # npairs
    st.integers(1, 300), # m
    st.integers(0, 2**32),
)
def test_fastscan_asym_equals_popcount_any_shape(p, b, w, npairs, m, seed):
    """Property: the Arrow value-GEMM kernel computes the exact integer
    cross term of the plane-wise popcount definition for EVERY (query
    planes, base planes, words, pairs, rows) geometry, not just the shapes
    the index happens to use — in float32 below the 2^24 partial-sum
    bound and float64 above it, as the engine picks."""
    import numpy as np

    from popcount_ref import gemm_cross, popcount_cross

    rng = np.random.default_rng(seed)
    planes = rng.integers(-(2**63), 2**63, size=(npairs, p, w), dtype=np.int64)
    codes = rng.integers(-(2**63), 2**63, size=(m, b, w), dtype=np.int64)
    assert np.array_equal(popcount_cross(planes, codes), gemm_cross(planes, codes))
