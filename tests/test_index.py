"""Index build + batch search: exhaustive == exact (the strongest invariant —
quantization can screen but never change final results when everything is
reranked); approximate recall sane; estimator is a probabilistic lower bound;
save/load round-trip preserves results (SURVEY.md §5.1/.3/.6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import RaBitQModel, build_index, search
from rabitq_spark.index.search import _prepare_probes, rough_distance_expr
from rabitq_spark.metrics import SearchMetrics
from rabitq_spark.functions.vector import l2_squared
from rabitq_spark.operators.knn import knn_exact

K = 5
NQ = 8


@pytest.fixture(scope="module")
def model_and_data(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(f"vec_id < {NQ}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8)
    model = build_index(base, cfg)
    model.index_df = model.index_df.cache()
    return model, base, queries


def test_exhaustive_equals_exact(spark, model_and_data):
    model, base, queries = model_and_data
    exact = knn_exact(queries, base, K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    exh = search(
        model, queries, topk=K, nprobe=model.n_clusters, overfetch=10**6
    ).toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(exh, exact, check_exact=True)


def test_approx_recall_reasonable(spark, model_and_data):
    model, base, queries = model_and_data
    exact = knn_exact(queries, base, K).toPandas()
    approx = search(model, queries, topk=K).toPandas()
    recall = len(approx.merge(exact, on=["query_id", "neighbor_id"])) / len(exact)
    assert recall >= 0.6, recall


def test_estimator_is_probabilistic_lower_bound(spark, model_and_data):
    # rough ≤ exact with high empirical frequency (the −error_bound·dist term
    # at src/rabitq.rs:363 makes rough a lower bound w.h.p. per the paper)
    model, base, queries = model_and_data
    probes = _prepare_probes(model, queries, "query_id", "qvec", model.n_clusters)
    cand = model.index_df.join(F.broadcast(probes), "cluster_id").select(
        "query_id", "orig_id",
        rough_distance_expr(model.config.theta_log_dim, model.n_words).alias("rough"),
    )
    qv = queries.select("query_id", F.col("qvec").alias("__qvec"))
    joined = (
        cand.join(model.base_df, "orig_id")
        .join(F.broadcast(qv), "query_id")
        .select("rough", l2_squared(F.col("__qvec"), F.col("vec")).alias("exact"))
        .toPandas()
    )
    frac_lb = (joined["rough"] <= joined["exact"]).mean()
    assert frac_lb >= 0.9, frac_lb
    assert np.corrcoef(joined["rough"], joined["exact"])[0, 1] > 0.5


def _search_sorted(model, queries, **kwargs):
    met = SearchMetrics()
    frame = search(model, queries, metrics=met, **kwargs).toPandas()
    return frame.sort_values(["query_id", "rank"], ignore_index=True), met


def test_fused_impl_equals_jvm(spark, model_and_data):
    """1-bit codes: the Arrow plan (_fused_shortlist, float32 value GEMM)
    reproduces the jvm codegen plan's frame exactly. 8 queries over 8
    clusters sit under every auto floor, so the explicit impl="arrow" must
    be honoured, not demoted."""
    model, base, queries = model_and_data
    a, met_a = _search_sorted(model, queries, impl="jvm")
    b, met_b = _search_sorted(model, queries, impl="arrow")
    assert met_a.kernel == "jvm"
    assert met_b.kernel == "arrow", met_b.kernel_reason
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_fastscan_impl_equals_jvm(spark):
    """Past the float32 exactness bound: theta_log_dim 8 and 8-bit codes
    at dim 320 give dim_pad·255·255 > 2^24, so the Arrow value GEMM runs
    in float64 — and must still reproduce the jvm frame exactly."""
    from rabitq_spark.index.search import value_gemm_dtype

    dim, n = 320, 600
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    base = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "vec": list(vecs)}),
        "id bigint, vec array<float>",
    )
    queries = base.filter(f"id < {NQ}").select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cfg = RaBitQConfig(
        n_clusters=8, nprobe=4, topk=K, overfetch=8, theta_log_dim=8,
        bits_per_dim=8,
    )
    model = build_index(base, cfg)
    assert value_gemm_dtype(model.dim_pad, 8, 8) is np.float64
    a, met_a = _search_sorted(model, queries, impl="jvm")
    b, met_b = _search_sorted(model, queries, impl="arrow")
    assert met_a.kernel == "jvm"
    assert met_b.kernel == "arrow", met_b.kernel_reason
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_fastscan_kernel_bit_identical_to_popcount():
    """The Arrow kernel (value GEMM over unpacked plane values) must give
    the EXACT integer of the plane-wise popcount definition for every
    (query planes, base planes, words) shape the probe table and index
    can carry — float32 below the 2^24 partial-sum bound, float64 above."""
    from popcount_ref import gemm_cross, popcount_cross

    from rabitq_spark.index.search import (
        unpack_plane_values,
        value_gemm_asym,
        value_gemm_dtype,
    )

    rng = np.random.default_rng(7)
    below = [(4, 1, 1, 5, 97), (4, 1, 4, 3, 64), (2, 1, 2, 7, 33),
             (4, 1, 16, 2, 50), (4, 2, 4, 5, 40), (4, 4, 4, 3, 30)]
    above = [(8, 8, 5, 3, 20)]
    for shapes, want in ((below, np.float32), (above, np.float64)):
        for theta_log_dim, bits, n_words, npairs, m in shapes:
            assert value_gemm_dtype(n_words * 64, theta_log_dim, bits) is want
            planes = rng.integers(
                -(2**63), 2**63, size=(npairs, theta_log_dim, n_words),
                dtype=np.int64,
            )
            codes = rng.integers(
                -(2**63), 2**63, size=(m, bits, n_words), dtype=np.int64
            )
            assert np.array_equal(
                popcount_cross(planes, codes), gemm_cross(planes, codes)
            ), (theta_log_dim, bits, n_words)

    # the bound is real: all-ones query planes against all-ones codes with
    # one cleared bit give the odd total 320·255·255 − 1 > 2^24, which
    # float32 cannot represent but the float64 GEMM the engine picks can
    planes = np.full((1, 8, 5), -1, dtype=np.int64)
    codes = np.full((1, 8, 5), -1, dtype=np.int64)
    codes[0, 0, 0] = -2
    ref = popcount_cross(planes, codes)
    assert ref[0, 0] == 320 * 255 * 255 - 255 and ref[0, 0] % 2 == 1
    assert np.array_equal(gemm_cross(planes, codes), ref)
    f32 = value_gemm_asym(
        unpack_plane_values(planes, 8), unpack_plane_values(codes, 8)
    )
    assert not np.array_equal(f32, ref)


def test_save_load_roundtrip(spark, model_and_data, tmp_path):
    model, base, queries = model_and_data
    before = search(model, queries, topk=K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    path = str(tmp_path / "idx")
    model.save(path)
    loaded = RaBitQModel.load(spark, path)
    assert loaded.dim == model.dim and loaded.n_clusters == model.n_clusters
    after = search(loaded, queries, topk=K).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    pd.testing.assert_frame_equal(before, after, check_exact=True)


def _probe_join(df) -> str:
    """The stage-5 cluster_id join of `df`'s plan: "broadcast" or
    "shuffle" (sort-merge, both sides exchanged)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    if re.search(r"BroadcastHashJoin \[cluster_id#", plan):
        return "broadcast"
    assert re.search(r"SortMergeJoin \[cluster_id#", plan), plan
    return "shuffle"


def test_shuffled_probe_join_equals_broadcast(spark, model_and_data, monkeypatch):
    """A batch past the driver cap (patched to 0; a huge query batch such
    as a full-table self-join) has no probe table on the driver: it runs
    the jvm join with both sides shuffled by cluster_id, never a probe
    broadcast, and returns the broadcast plan's frame."""
    import importlib

    search_mod = importlib.import_module("rabitq_spark.index.search")
    model, base, queries = model_and_data
    assert _probe_join(search(model, queries, topk=K, impl="jvm")) == "broadcast"
    a, _ = _search_sorted(model, queries, topk=K)
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 0)
    b, met = _search_sorted(model, queries, topk=K)
    assert met.kernel == "jvm"
    assert _probe_join(search(model, queries, topk=K)) == "shuffle"
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_cold_index_partition_pruning(spark, model_and_data, tmp_path):
    """The saved index is Parquet partitioned by cluster_id; a low-nprobe
    search against the LOADED model must prune to only the probed partitions
    (the Spark analogue of the reference's CSR posting-range reads,
    src/rabitq.rs:240-252)."""
    import contextlib
    import io
    import re

    model, base, queries = model_and_data
    path = str(tmp_path / "cold")
    model.save(path)
    loaded = RaBitQModel.load(spark, path)
    result = search(loaded, queries, topk=K, nprobe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "cluster_id" in m.group(1), m.group(1)
    # and the pruned search still returns well-formed results
    assert result.count() > 0


def test_ivf_cosine_equals_bruteforce_cosine(spark, sf_dir):
    """IVF over unit vectors serves cosine: the registered query must equal
    the brute-force cosine ranking bit-for-bit (cosine == L2 on unit
    vectors; the distance the reference leaves unchecked, README.md:19)."""
    from rabitq_spark.queries import q_ann_ivf_cosine, q_knn_cosine

    ivf = q_ann_ivf_cosine(spark, sf_dir).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    brute = q_knn_cosine(spark, sf_dir).toPandas().sort_values(
        ["query_id", "rank"], ignore_index=True
    )
    pd.testing.assert_frame_equal(ivf, brute, check_exact=True)


def test_default_nprobe_recall_gate(spark):
    """Regression gate: mean recall@10 at DEFAULT nprobe must stay ≥ 0.9 on
    the sf0.01 fixture (measured 0.97 at bench; the reference reports recall
    as its headline metric, crates/cli/src/main.rs:77-81)."""
    from rabitq_spark.queries import q_ann_ivf_recall

    row = q_ann_ivf_recall(spark, "/root/testdata/sf0.01").first()
    assert row.mean_recall >= 0.9, row.mean_recall


def test_index_schema_and_codes(spark, model_and_data):
    model, _, _ = model_and_data
    row = model.index_df.first()
    assert len(row.code) == model.n_words
    counts = model.index_df.groupBy("cluster_id").count().toPandas()
    assert counts["count"].sum() == model.base_df.count()
    assert set(counts["cluster_id"]) <= set(range(model.n_clusters))


def test_fused_gate_falls_back_to_jvm(spark, model_and_data, monkeypatch):
    """Past the driver cap an explicit impl="arrow" has no probe table on
    the driver and must NOT collect one: it runs the jvm join with both
    sides shuffled, reports why, and returns the driver path's frame."""
    import importlib

    search_mod = importlib.import_module("rabitq_spark.index.search")
    model, base, queries = model_and_data
    want, _ = _search_sorted(model, queries, topk=K, impl="arrow")

    def boom(*args, **kwargs):
        raise AssertionError("Arrow shortlist must not run past the driver cap")

    monkeypatch.setattr(search_mod, "_fused_shortlist", boom)
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 1)
    gated, met = _search_sorted(model, queries, topk=K, impl="arrow")
    assert met.kernel == "jvm"
    assert met.kernel_reason == "probe table not on the driver"
    assert _probe_join(search(model, queries, topk=K, impl="arrow")) == "shuffle"
    pd.testing.assert_frame_equal(gated, want, check_exact=True)


def test_choose_kernel_floors(monkeypatch):
    """The Spark kernel rule of the executor tail: the request is
    validated; "jvm" is honoured; a probe table not on the driver (no
    geometry) runs the jvm join for any request; "auto" keeps the jvm join
    past half coverage; "arrow" is then honoured, whatever the probe
    table's bytes, and "auto" asks the floors — 1-bit codes need both the
    pair-volume floor and 12 probing queries per cluster, multi-bit codes
    only their lower pair floor. Pure geometry — no Spark."""
    import importlib
    from types import SimpleNamespace

    from rabitq_spark.index.search import choose_kernel, cluster_counts

    search_mod = importlib.import_module("rabitq_spark.index.search")

    def model(bits, n_rows=1_000_000, n_clusters=1000):
        return SimpleNamespace(
            n_rows=n_rows, n_clusters=n_clusters, n_words=1,
            config=RaBitQConfig(bits_per_dim=bits),
        )

    def counts(rows, clusters):
        """A probe table of `rows` rows spread over `clusters` clusters."""
        return cluster_counts(np.arange(rows) % clusters)

    def auto(m, rows, clusters):
        return choose_kernel(m, "auto", counts(rows, clusters), 8)

    # 1-bit, avg cluster 1000 rows: 8M pairs needs 8000 probe rows
    assert auto(model(1), 7_999, 10)[0] == "jvm"
    assert auto(model(1), 8_000, 10)[0] == "arrow"
    assert auto(model(1), 12_000, 1000)[0] == "arrow"
    kernel, reason = auto(model(1), 11_999, 1000)
    assert kernel == "jvm" and "queries/cluster" in reason
    # multi-bit: 2M pairs, queries per cluster ignored
    assert auto(model(4), 1_999, 1000)[0] == "jvm"
    assert auto(model(4), 2_000, 1000)[0] == "arrow"

    # the rule table: (impl, geometry, nprobe) -> kernel, with a geometry
    # over every auto floor and one under them all
    big, small = counts(12_000, 1000), counts(8, 8)
    for impl, geometry, nprobe, want in [
        ("jvm", big, 8, "jvm"),
        ("auto", big, 8, "arrow"),
        ("auto", small, 8, "jvm"),
        ("arrow", small, 8, "arrow"),
        # over half coverage: "auto" keeps the jvm join, "arrow" holds
        ("auto", big, 501, "jvm"),
        ("auto", None, 501, "jvm"),
        ("arrow", big, 501, "arrow"),
        # a probe table not on the driver runs the jvm join for any request
        ("arrow", None, 501, "jvm"),
        ("arrow", None, 8, "jvm"),
        ("auto", None, 8, "jvm"),
    ]:
        got = choose_kernel(model(1), impl, geometry, nprobe)
        assert got[0] == want, (impl, nprobe, got)
    assert choose_kernel(model(1), "jvm", None, 8)[1] == "requested"
    assert "half" in choose_kernel(model(1), "auto", big, 501)[1]
    for impl in ("auto", "arrow"):
        reason = choose_kernel(model(1), impl, None, 501)[1]
        assert reason == "probe table not on the driver"

    # a wave's geometry: 3000 queries probing 4 clusters each over 1000
    # clusters — 12 queries per cluster, 12M pairs
    qi = np.repeat(np.arange(3000), 4)
    ci = (qi * 7 + np.tile(np.arange(4), 3000)) % 1000
    wave = cluster_counts(ci)
    widest = int(np.bincount(qi).max())
    assert choose_kernel(model(1), "auto", wave, widest)[0] == "arrow"
    # a wave of 12 queries probing 4 of 7 clusters each covers over half
    qi = np.repeat(np.arange(12), 4)
    ci = (qi + np.tile(np.arange(4), 12)) % 7
    kernel, reason = choose_kernel(
        model(1, n_clusters=7), "auto", cluster_counts(ci), 4
    )
    assert kernel == "jvm" and "half" in reason

    # no byte rule: a driver probe table is already within the driver cap
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 1)
    assert choose_kernel(model(1), "arrow", big, 8)[0] == "arrow"
    assert choose_kernel(model(1), "auto", big, 8)[0] == "arrow"

    with pytest.raises(ValueError):
        choose_kernel(model(1), "gpu", big, 8)


def test_stage5_kernel_driver_rule(monkeypatch):
    """The driver rule ahead of choose_kernel: an "auto" batch whose stages
    6-7 fit the driver runs the driver scorer — on the model's resident
    arrays while they describe it and the index frame is its own, else on
    one collect of the index frame, admitted while all n_rows rows fit
    _ARROW_MAX_PROBE_BYTES. Past the bound, or for a batch that does not
    fit, or a forced "jvm"/"arrow", choose_kernel's Spark kernel runs. The
    bound is read from n_rows, so a batch past it collects nothing. Fake
    frames — no Spark."""
    import importlib
    from types import SimpleNamespace

    import pyarrow as pa

    from rabitq_spark.index.model import CSRIndex
    from rabitq_spark.index.search import cluster_counts, stage5_kernel

    search_mod = importlib.import_module("rabitq_spark.index.search")

    class Frame:
        """The DataFrame calls of an index collect, over an Arrow table."""

        def __init__(self, table):
            self.table = table

        def select(self, *cols):
            return type(self)(self.table.select(list(cols)))

        def toArrow(self):
            return self.table

    class Uncollected(Frame):
        def toArrow(self):
            raise AssertionError("an index frame past the bound was collected")

    n = 40
    rows = pa.table({
        "cluster_id": pa.array(np.arange(n) % 8, pa.int32()),
        "orig_id": pa.array(np.arange(n), pa.int64()),
        "code": pa.array([[i] for i in range(n)], pa.list_(pa.int64())),
        **{f: pa.array(np.ones(n), pa.float32())
           for f in ("center_dist_sq", "factor_ip", "factor_ppc", "error_bound")},
    })

    class Arrays:
        nbytes = 4321
        index = "resident csr"

        def __init__(self, current):
            self.current = current

        def describes(self, model):
            return self.current

    own = Frame(rows)
    m = SimpleNamespace(
        n_rows=n, n_clusters=8, n_words=1, dim_pad=64, config=RaBitQConfig(),
        resident=Arrays(True), index_df=own,
    )
    geometry = cluster_counts(np.arange(40) % 8)  # every cluster: no pruning
    qv = (np.arange(5), np.zeros((5, 64)))

    def rule(impl="auto", index=own):
        return stage5_kernel(m, impl, 10, qv, geometry, 2, index)

    kernel, reason, csr = rule()
    assert kernel == "driver" and "resident" in reason and "4321 B" in reason
    assert csr == "resident csr"
    # a filtered frame, or stale arrays: one collect of the frame's rows
    for index, arrays in (
        (Frame(rows.slice(0, 30)), Arrays(True)),
        (own, Arrays(False)),
    ):
        m.resident = arrays
        kernel, reason, csr = rule(index=index)
        assert kernel == "driver", reason
        assert reason == f"{index.table.num_rows} index rows collected"
        assert isinstance(csr, CSRIndex)
        assert len(csr.orig_id) == index.table.num_rows
    m.resident = None
    # forced Spark kernels, and a batch whose tail does not fit
    for impl in ("jvm", "arrow"):
        assert rule(impl)[0] == impl
    m.n_rows = None
    kernel, reason, csr = rule()
    assert kernel == "jvm" and csr is None
    m.n_rows = n
    # past the collect cap for n_rows rows: decided before any collect
    def room(rows, index=own):
        monkeypatch.setattr(
            search_mod,
            "_index_row_bytes",
            lambda m: search_mod._ARROW_MAX_PROBE_BYTES // rows,
        )
        return rule(index=index)

    kernel, reason, csr = room(n - 1, Uncollected(rows))
    assert kernel == "jvm" and csr is None
    assert "> collect cap" in reason
    assert room(n)[0] == "driver"


def _index_table(rng, n, n_clusters, bits, n_words):
    """A shuffled Arrow index table of random codes and factors, with 20
    copies of row 0 under other ids, so their rough values tie."""
    import pyarrow as pa

    from rabitq_spark.index.model import factor_columns

    codes = rng.integers(-(2**63), 2**63, size=(n, bits * n_words), dtype=np.int64)
    factors = rng.random((n, 4)).astype(np.float32)
    cid = rng.integers(0, n_clusters, n)
    for a in (codes, factors, cid):
        a[n // 2 : n // 2 + 20] = a[0]
    cols = {
        "cluster_id": pa.array(cid, pa.int32()),
        "orig_id": pa.array(rng.permutation(n) + 1000, pa.int64()),
        "code": pa.array(list(codes), pa.list_(pa.int64())),
    }
    for j, f in enumerate(factor_columns(RaBitQConfig(bits_per_dim=bits))):
        cols[f] = pa.array(factors[:, j], pa.float32())
    return pa.table(cols)


@pytest.mark.parametrize("bits", [1, 4])
def test_score_clusters_batches_equal_one_pass(bits):
    """score_clusters over the CSR view of each Arrow batch of a shuffled
    index table, cut with top_n, equals one pass over the whole table's
    CSR — the Arrow plan's per-batch scoring against the driver scorer's
    one pass — and counts every (probe row, cluster row) pair, also when a
    block bound of a few entries scores each probe row on its own. No
    Spark."""
    from rabitq_spark.functions.scratch import BLOCK_ENTRIES
    from rabitq_spark.index.model import CSRIndex, factor_columns
    from rabitq_spark.index.search import (
        prepare_probe_block,
        probes_by_cluster,
        score_clusters,
        top_n,
    )

    rng = np.random.default_rng(3)
    n_clusters, n_words, theta, r = 6, 2, 4, 7
    table = _index_table(rng, 400, n_clusters, bits, n_words)
    block = prepare_probe_block(
        np.arange(9) + 50, rng.standard_normal((9, 100)), np.eye(128),
        rng.standard_normal((n_clusters, 128)).astype(np.float32),
        rng.random(128).astype(np.float32), np.float32(3.0), theta, 3,
    )
    by_cluster = probes_by_cluster(block, theta, n_words)
    factors = factor_columns(RaBitQConfig(bits_per_dim=bits))

    def csr(t):
        return CSRIndex.of(t, n_clusters, bits * n_words, factors)

    def cut(q, i, ro):
        keep = top_n(q, ro, i, r)
        return q[keep], i[keep], ro[keep]

    whole, scored = score_clusters(csr(table), by_cluster, r, BLOCK_ENTRIES)
    sizes = np.bincount(table["cluster_id"].to_numpy(), minlength=n_clusters)
    probe_rows = np.bincount(block["cluster_id"], minlength=n_clusters)
    for bound in (BLOCK_ENTRIES, 5):
        parts, total = [], 0
        for batch in table.to_batches(max_chunksize=37):
            got, pairs = score_clusters(csr(batch), by_cluster, r, bound)
            parts.append(cut(*got))
            total += pairs
        batched = cut(*map(np.concatenate, zip(*parts)))
        for a, b in zip(cut(*whole), batched):
            np.testing.assert_array_equal(a, b)
        assert scored == total == int((sizes * probe_rows).sum())
        assert len(batched[0]) == 9 * r
    # unbatched under the small bound: the same cut rows, in the same order
    small, _ = score_clusters(csr(table), by_cluster, r, 5)
    for a, b in zip(whole, small):
        np.testing.assert_array_equal(a, b)
    # a code list of another width is no CSR view
    assert CSRIndex.of(table, n_clusters, bits * n_words + 1, factors) is None


@pytest.mark.parametrize("bits", [1, 4])
@pytest.mark.parametrize("parts", [1, 3, 7])
def test_arrow_plan_ties_keep_the_smallest_ids(spark, parts, bits):
    """40 copies of one vector under shuffled ids tie exactly on the rough
    value. However the index is partitioned, the forced Arrow plan must
    shortlist the smallest tied ids, so k=5 from a shortlist of 10 is
    5000-5004 — the jvm plan's and the driver scorer's answer."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((1000, 32)).astype(np.float32)
    dup = rng.standard_normal(32).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    rows += [(int(i), dup.tolist()) for i in 5000 + rng.permutation(40)]
    base = spark.createDataFrame(rows, "id bigint, vec array<float>")
    queries = spark.createDataFrame(
        [(0, dup.tolist())], "query_id bigint, qvec array<float>"
    )
    cfg = RaBitQConfig(
        n_clusters=8, nprobe=2, topk=5, overfetch=2, bits_per_dim=bits
    )
    model = build_index(base, cfg, n_rows=1040)
    model.index_df = model.index_df.repartition(parts).cache()
    frames = {}
    for impl in ("arrow", "jvm", "auto"):
        met = SearchMetrics()
        got = search(model, queries, metrics=met, impl=impl).orderBy("rank").collect()
        assert met.kernel == {"auto": "driver"}.get(impl, impl), met.kernel_reason
        assert [row.neighbor_id for row in got] == [5000, 5001, 5002, 5003, 5004]
        assert all(row.dist == 0.0 for row in got)
        frames[impl] = got
    assert frames["arrow"] == frames["jvm"] == frames["auto"]
    model.index_df.unpersist()
