"""search()'s driver path — a bounded batch collected once, stages 1-4 in
numpy on the driver, stages 5-7 finished there too (the "driver" kernel:
score_clusters over a small loaded model's resident arrays or one bounded
collect of the index rows, then the driver tail) — against the executor
path it replaces and the forced Spark kernels. Patching
search._ARROW_MAX_PROBE_BYTES, the driver cap, to 0 forces every batch
onto the executor path; patching vecstore.QUERY_MATRIX_MAX_BYTES to 0
keeps stages 1-4 on the driver but sends stage 7 to the query frame (and
the vec-store rerank to its join form). So the three placements can be
compared frame for frame."""

import copy
import importlib
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import (
    RaBitQModel,
    build_index,
    range_search,
    search,
    search_adaptive,
)
from rabitq_spark.index import vecstore
from rabitq_spark.index.vecstore import build_vec_store
from rabitq_spark.metrics import SearchMetrics

# the module, not the search() function the package re-exports
search_mod = importlib.import_module("rabitq_spark.index.search")

K = 5
NQ = 12
NPROBE = 3  # of 8 clusters: partition pruning on


@pytest.fixture(scope="module")
def models(spark, sf_dir, tmp_path_factory):
    """{(bits_per_dim, vec store on): model} over one attr-carrying base.
    The models know their row count, which the driver tail's bounds need."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    n_rows = base.count()
    out = {}
    for bits in (1, 4):
        cfg = RaBitQConfig(
            n_clusters=8, nprobe=NPROBE, topk=K, overfetch=8, bits_per_dim=bits
        )
        model = build_index(base, cfg, attr_cols=["label"], n_rows=n_rows)
        model.index_df = model.index_df.cache()
        store_dir = str(tmp_path_factory.mktemp(f"store{bits}"))
        stored = copy.copy(model)
        stored.vec_store = build_vec_store(model.base_df, store_dir, dim=model.dim)
        out[(bits, False)] = model
        out[(bits, True)] = stored
    return out


def _queries(spark, sf_dir, elem):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.filter(f"vec_id < {NQ}").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast(f"array<{elem}>").alias("qvec"),
    )


def _sorted(df, keys=("query_id", "rank")):
    return df.toPandas().sort_values(list(keys), ignore_index=True)


def _executor_path(monkeypatch):
    monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", 0)


def _frame_query_side(monkeypatch):
    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", 0)


#: Where a batch runs: the driver (stages 1-4 and the stage-7 query
#: matrix), a driver probe block with the frame query side, and the
#: executor path.
PLACEMENTS = {
    "driver": lambda m: None,
    "frame_side": _frame_query_side,
    "executor": _executor_path,
}


def _probe_join(plans) -> str:
    """The stage-5 join of formatted `plans` on cluster_id: "broadcast",
    "shuffle" (both sides sort-merged) or "" when none is there."""
    text = "\n".join(plans)

    def joins(kind):
        return re.search(rf"{kind}[^\n]*\nLeft keys \[1\]: \[cluster_id#", text)

    if joins("BroadcastHashJoin"):
        return "broadcast"
    return "shuffle" if joins("SortMergeJoin") else ""


def _runs_prep(plans) -> bool:
    """Whether formatted `plans` run the executor path's `prep` stage."""
    return any("MapInPandas" in p and re.search(r"\bprep\(", p) for p in plans)


def _jobs(spark, tag, run) -> int:
    """Spark jobs `run()` consumes (status store)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def _executed_plans(spark, run) -> list:
    """The final physical plan of every SQL execution `run()` started, as
    the SQL status store describes it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return {
            seq.apply(i).executionId(): seq.apply(i) for i in range(seq.size())
        }

    before = set(ids())
    run()
    after = ids()
    return [e.physicalPlanDescription() for i, e in after.items() if i not in before]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("filt", ["none", "index_predicate", "allowed"])
@pytest.mark.parametrize("store", [False, True], ids=["join", "store"])
@pytest.mark.parametrize("bits", [1, 4])
@pytest.mark.parametrize("impl", ["auto", "jvm", "arrow"])
def test_driver_path_equals_executor_path(
    spark, sf_dir, models, monkeypatch, impl, bits, store, filt
):
    """Every batch runs in the three PLACEMENTS, whose frames are equal.
    The kernel that runs is reported: on the driver a forced kernel is
    honoured and "auto" runs the driver scorer over one collect of the
    index rows; with the frame query side a forced kernel is honoured
    ("arrow" over the driver probe block) and "auto" takes choose_kernel's
    pick; on the executor path every request runs the jvm join."""
    model = models[(bits, store)]
    kw = {"topk": K, "impl": impl}
    if filt == "index_predicate":
        kw["index_predicate"] = F.col("label") < 4
    elif filt == "allowed":
        kw["allowed"] = model.base_df.filter("orig_id % 3 != 0").select("orig_id")
    for elem in ("float", "double"):
        queries = _queries(spark, sf_dir, elem)
        frames = {}
        for placement, patch in PLACEMENTS.items():
            met = SearchMetrics()
            with monkeypatch.context() as m:
                patch(m)
                frames[placement] = _sorted(search(model, queries, metrics=met, **kw))
            want = impl
            if placement == "executor":
                want = "jvm"
                if impl != "jvm":
                    assert met.kernel_reason == "probe table not on the driver"
            elif impl == "auto" and placement == "driver":
                want = "driver"
                assert "index rows collected" in met.kernel_reason
            elif impl == "auto":
                want, _ = search_mod.choose_kernel(
                    model, impl, met.probed_clusters, NPROBE
                )
            assert met.kernel == want, (placement, met.kernel_reason)
            assert met.probe_rows == NQ * NPROBE
            assert sum(met.probed_clusters.values()) == met.probe_rows
        assert len(frames["driver"]) == NQ * K
        for placement in ("frame_side", "executor"):
            pd.testing.assert_frame_equal(
                frames["driver"], frames[placement], check_exact=True
            )


def test_range_search_driver_path_equals_executor_path(
    spark, sf_dir, models, monkeypatch
):
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    radius = float(
        search(model, queries, topk=K).agg(F.expr("percentile(dist, 0.5)")).first()[0]
    )
    keys = ("query_id", "neighbor_id")
    driver = _sorted(range_search(model, queries, radius), keys)
    assert len(driver) > 0
    for placement in ("frame_side", "executor"):
        with monkeypatch.context() as m:
            PLACEMENTS[placement](m)
            other = _sorted(range_search(model, queries, radius), keys)
        pd.testing.assert_frame_equal(driver, other, check_exact=True)


def test_driver_path_drops_prep_stage_and_two_jobs(spark, sf_dir, models, monkeypatch):
    """A small batch runs no `prep` Python stage and at least two fewer
    Spark jobs than the executor path (its checkpoint and probe-count jobs
    are gone). The probe geometry and the driver tail's counts in the
    metrics cost no extra job."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")

    def run_search(metrics=None):
        search(model, queries, topk=K, metrics=metrics).collect()

    run_search()  # warm: codegen and Python workers are per-process costs
    driver_jobs = _jobs(spark, "driver_path:driver", run_search)
    met = SearchMetrics()
    with_metrics = _jobs(spark, "driver_path:metrics", lambda: run_search(met))
    with monkeypatch.context() as m:
        _executor_path(m)
        executor_jobs = _jobs(spark, "driver_path:executor", run_search)
    assert driver_jobs <= executor_jobs - 2, (driver_jobs, executor_jobs)
    assert with_metrics == driver_jobs
    # through the driver tail: rough and precise counted from its arrays,
    # the base rows observed inside its one base job (a base join reads
    # the whole base)
    assert set(met.counts) == {"rough_count", "precise_count"}
    assert 0 < met.precise_count <= met.rough_count
    assert met.rerank_base_rows == model.n_rows

    # at full coverage the executor path keeps prep in the search plan (no
    # checkpoint cuts it off), so the plan check below can see it
    def plan(nprobe):
        return _plan(search(model, queries, topk=K, nprobe=nprobe))

    assert "MapInPandas prep(" not in plan(model.n_clusters)
    with monkeypatch.context() as m:
        _executor_path(m)
        assert "MapInPandas prep(" in plan(model.n_clusters)


def test_driver_batch_returns_local_relation(
    spark, sf_dir, models, monkeypatch, tmp_path
):
    """A driver batch runs its jobs inside search() and returns a local
    relation: over a saved model's plain scans (its resident arrays
    dropped, so the driver scorer collects the index rows), no executor
    ran a Python stage or a window, where the executor path runs the `rr`
    rerank and two window top-ks."""
    path = str(tmp_path / "model")
    models[(1, False)].save(path)
    model = RaBitQModel.load(spark, path)
    model.resident = None
    queries = _queries(spark, sf_dir, "float")
    met = SearchMetrics()
    out = []
    plans = _executed_plans(
        spark,
        lambda: out.append(search(model, queries, topk=K, metrics=met)),
    )
    assert met.kernel == "driver" and "index rows collected" in met.kernel_reason
    assert _plan(out[0]).startswith("LocalTableScan")
    assert plans
    for p in plans:
        assert "MapIn" not in p and "Window" not in p, p
    with monkeypatch.context() as m:
        _executor_path(m)
        plans = _executed_plans(
            spark, lambda: search(model, queries, topk=K).collect()
        )
    assert any("MapInPandas" in p for p in plans)
    assert any("Window" in p for p in plans)


def test_adaptive_wave_runs_the_search_jobs(spark, sf_dir, models):
    """A search_adaptive wave over every cluster runs the Spark jobs of one
    search() at full coverage and no more: both collect the batch once and
    run the same stages 5-7 through the same driver tail. The wave takes
    the driver tail's rows without a job, where toPandas() of its local
    relation would start one per wave."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    ncl = model.n_clusters
    stats: dict = {}

    def adaptive():
        search_adaptive(model, queries, topk=K, wave0=ncl, stats=stats)

    def static():
        search(model, queries, topk=K, nprobe=ncl)

    adaptive()  # warm: the radii memo, codegen and Python workers
    static()
    assert stats["waves"] == 1
    wave_jobs = _jobs(spark, "driver_path:adaptive", adaptive)
    assert wave_jobs <= _jobs(spark, "driver_path:static", static)


@pytest.mark.parametrize("bound", ["candidates", "base_rows"])
def test_over_bound_batch_takes_executor_tail(
    spark, sf_dir, models, monkeypatch, bound
):
    """A driver batch whose candidate-stream or base-row bound passes its
    cap keeps the executor tail (window top-R, `rr` rerank, window top-k)
    over the same driver query matrix, and returns the same frame."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    want = _sorted(search(model, queries, topk=K))
    if bound == "candidates":
        # the probe table and the query block still fit: the batch stays
        # on the driver path
        row_bytes = max(8 * model.dim, NPROBE * search_mod._probe_row_bytes(model))
        monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", NQ * row_bytes)
    else:
        # the query matrix still fits, the shortlisted base rows do not
        monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", NQ * model.dim * 8)
    assert search_mod._driver_batch(model, queries, "query_id", "qvec", NPROBE)
    df = search(model, queries, topk=K)
    plan = _plan(df)
    assert not plan.startswith("LocalTableScan") and "Window" in plan
    pd.testing.assert_frame_equal(_sorted(df), want, check_exact=True)


@pytest.mark.parametrize("bits", [1, 4])
def test_driver_tail_filtered_base_collect(spark, sf_dir, models, monkeypatch, bits):
    """A base too large to collect whole is read through one `orig_id IN
    (...)` filter over the distinct shortlisted ids; the frame is the
    executor path's and the metric still counts every base row scanned."""
    model = models[(bits, False)]
    queries = _queries(spark, sf_dir, "float")
    r = K * search_mod.auto_overfetch(model, NPROBE, K)
    # the shortlist's rows fit the cap, the whole base does not
    shortlist_bytes = NQ * r * model.dim_pad * 4
    assert shortlist_bytes < model.n_rows * model.dim_pad * 4
    monkeypatch.setattr(vecstore, "QUERY_MATRIX_MAX_BYTES", shortlist_bytes)
    met = SearchMetrics()
    df = search(model, queries, topk=K, metrics=met)
    assert _plan(df).startswith("LocalTableScan")
    driver = _sorted(df)
    with monkeypatch.context() as m:
        _executor_path(m)
        executor = _sorted(search(model, queries, topk=K))
    pd.testing.assert_frame_equal(driver, executor, check_exact=True)
    assert met.rerank_base_rows == model.n_rows


def _pairs(index, probed_clusters) -> int:
    """Σ probe rows × cluster size over `index`'s rows."""
    sizes = {
        r["cluster_id"]: r["count"]
        for r in index.groupBy("cluster_id").count().collect()
    }
    return sum(n * sizes.get(c, 0) for c, n in probed_clusters.items())


@pytest.mark.parametrize("filt", ["index_predicate", "allowed"])
@pytest.mark.parametrize("bits", [1, 4])
def test_filtered_driver_batch_equals_jvm_executor_tail(
    spark, sf_dir, models, bits, filt
):
    """A filtered "auto" batch of a model with no resident arrays runs the
    driver scorer over one collect of the filtered index rows, and its
    frame is the forced jvm plan's on the executor tail. Its rough count
    is every pair it scored: Σ probe rows × filtered cluster size."""
    model = models[(bits, False)]
    queries = _queries(spark, sf_dir, "float")
    if filt == "index_predicate":
        kw = {"index_predicate": F.col("label") < 4}
        index = model.index_df.filter(F.col("label") < 4)
    else:
        kw = {"allowed": model.base_df.filter("orig_id % 3 != 0").select("orig_id")}
        index = model.index_df.filter("orig_id % 3 != 0")
    met = SearchMetrics()
    got = _sorted(search(model, queries, topk=K, metrics=met, **kw))
    assert met.kernel == "driver" and "index rows collected" in met.kernel_reason
    jvm = SearchMetrics()
    want = _sorted(search(model, queries, topk=K, impl="jvm", metrics=jvm, **kw))
    assert jvm.kernel == "jvm"
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert len(got) == NQ * K
    assert met.rough_count == jvm.rough_count == _pairs(index, met.probed_clusters)


def test_over_bound_index_collect_takes_executor_tail(
    spark, sf_dir, models, monkeypatch
):
    """A driver-tail batch over a model whose n_rows index rows pass the
    collect cap runs the executor tail (window top-R, exact_topk) without
    collecting the index, with the same frame."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    want = _sorted(search(model, queries, topk=K))
    # room for 10 index rows: the model holds more
    monkeypatch.setattr(
        search_mod,
        "_index_row_bytes",
        lambda m: search_mod._ARROW_MAX_PROBE_BYTES // 10,
    )
    met = SearchMetrics()
    df = search(model, queries, topk=K, metrics=met)
    assert met.kernel == "jvm" and "> collect cap" in met.kernel_reason
    plan = _plan(df)
    assert not plan.startswith("LocalTableScan") and "Window" in plan
    pd.testing.assert_frame_equal(_sorted(df), want, check_exact=True)


def test_driver_scorer_collects_the_index_in_one_job(spark, sf_dir, models):
    """Over a vec-store model with no resident arrays, a driver-tail search
    runs two Spark jobs with the metrics on or off: the query collect and
    the one collect of the probed index rows (the store gathers the base
    rows at no job). Its rough count is Σ probe rows × cluster size."""
    model = models[(1, True)]
    queries = _queries(spark, sf_dir, "float")

    def run(metrics=None):
        search(model, queries, topk=K, metrics=metrics).collect()

    run()  # warm
    assert _jobs(spark, "driver_scorer:bare", run) == 2
    met = SearchMetrics()
    assert _jobs(spark, "driver_scorer:metrics", lambda: run(met)) == 2
    assert met.kernel == "driver"
    assert met.rough_count == _pairs(model.index_df, met.probed_clusters)


def test_duplicate_query_ids_take_frame_query_side(
    spark, sf_dir, models, monkeypatch
):
    """Duplicate ids cannot index the driver query matrix, but stages 1-4
    need no unique ids: such a batch builds its probe block on the driver
    and stage 7 joins the query frame. Its frame is the executor path's,
    and its unique ids get the answers a batch without the duplicates
    gets."""
    from pyspark.sql import DataFrame

    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    dup = queries.unionByName(queries.filter("query_id < 2"))
    probes, block, _, qv = search_mod._prepare_batch(
        model, dup, "query_id", "qvec", NPROBE
    )
    assert probes is None and len(block["query_id"]) == (NQ + 2) * NPROBE
    assert isinstance(qv, DataFrame)
    met = SearchMetrics()
    got = _sorted(search(model, dup, topk=K, metrics=met))
    assert met.kernel == "jvm" and met.probe_rows == (NQ + 2) * NPROBE
    with monkeypatch.context() as m:
        _executor_path(m)
        pd.testing.assert_frame_equal(
            got, _sorted(search(model, dup, topk=K)), check_exact=True
        )
    single = _sorted(search(model, queries, topk=K))
    pd.testing.assert_frame_equal(
        got[got.query_id >= 2].reset_index(drop=True),
        single[single.query_id >= 2].reset_index(drop=True),
        check_exact=True,
    )


def test_between_caps_batch_runs_stages_1_to_4_on_the_driver(
    spark, sf_dir, models, monkeypatch
):
    """A batch whose query matrix passes QUERY_MATRIX_MAX_BYTES but whose
    probe table and query block fit the driver cap runs ONE query collect
    and stages 1-4 on the driver: no `prep` stage, no checkpoint and no
    probe-count job; with impl="arrow" no probe collect either (the
    collect is the query batch's only toPandas). Stage 7 joins the query
    frame. It runs fewer jobs than the executor path, and the frames
    are equal."""
    model = models[(4, False)]
    queries = _queries(spark, sf_dir, "float")
    want = _sorted(search(model, queries, topk=K))
    frame_class = type(queries)  # the concrete class that collects
    _frame_query_side(monkeypatch)

    def run(impl):
        search(model, queries, topk=K, impl=impl).collect()

    run("arrow")  # warm
    frames = []
    calls = {"toPandas": 0, "localCheckpoint": 0}
    for name in calls:
        real = getattr(frame_class, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls[_name] += 1
            return _real(self, *a, **kw)

        monkeypatch.setattr(frame_class, name, spy)
    met = SearchMetrics()
    plans = _executed_plans(
        spark,
        lambda: frames.append(
            _sorted(search(model, queries, topk=K, impl="arrow", metrics=met))
        ),
    )
    assert calls == {"toPandas": 2, "localCheckpoint": 0}  # and _sorted's
    assert met.kernel == "arrow"
    assert not _runs_prep(plans)
    pd.testing.assert_frame_equal(frames[0], want, check_exact=True)
    between = _jobs(spark, "between_caps:arrow", lambda: run("arrow"))
    with monkeypatch.context() as m:
        _executor_path(m)
        run("arrow")  # warm
        executor = _jobs(spark, "between_caps:executor", lambda: run("arrow"))
    assert between < executor, (between, executor)


def test_past_cap_batch_keeps_executor_path(spark, sf_dir, models, monkeypatch):
    """A batch past the driver cap keeps the executor path whatever it asks
    for: the plan runs the `prep` stage and the jvm join, which shuffles
    both sides by cluster_id (no probe-side broadcast), and the frame is
    the driver path's. Within the cap the driver's probe table
    broadcasts."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    driver = {impl: _sorted(search(model, queries, topk=K, impl=impl))
              for impl in ("auto", "arrow")}
    with monkeypatch.context() as m:
        _frame_query_side(m)  # the executor tail, not the driver's
        plans = _executed_plans(
            spark, lambda: search(model, queries, topk=K, impl="jvm").collect()
        )
    assert _probe_join(plans) == "broadcast"
    _executor_path(monkeypatch)
    for impl, want in driver.items():
        met = SearchMetrics()
        out = []
        plans = _executed_plans(
            spark,
            lambda: out.append(
                _sorted(search(model, queries, topk=K, impl=impl, metrics=met))
            ),
        )
        assert met.kernel == "jvm", met.kernel_reason
        assert _probe_join(plans) == "shuffle"
        assert _runs_prep(plans)
        pd.testing.assert_frame_equal(want, out[0], check_exact=True)


def test_driver_batch_blocks_keep_every_probe_row(spark, sf_dir, models):
    """Driver stages 1-4 run per Arrow batch's rows, as the executor prep
    sees them (here 5 of 12 queries, three blocks), which bounds their
    temporaries. Every query keeps its probe rows and clusters in order;
    the float columns agree with one pass to float32 rounding (BLAS
    rounds a row's dot products differently with the rows beside it)."""
    import numpy as np

    model = models[(4, False)]
    queries = _queries(spark, sf_dir, "float")
    one = search_mod._driver_batch(model, queries, "query_id", "qvec", NPROBE)[2]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = search_mod._driver_batch(model, queries, "query_id", "qvec", NPROBE)[2]
    finally:
        spark.conf.set(key, old)
    assert set(got) == set(one) and len(got["query_id"]) == NQ * NPROBE
    for col in ("query_id", "cluster_id"):
        np.testing.assert_array_equal(got[col], one[col])
    for col in ("y_c_dist_sq", "lower_bound", "delta"):
        np.testing.assert_allclose(got[col], one[col], rtol=1e-5)


def test_probe_cap_bounds_the_batch_collect(spark, sf_dir, models, monkeypatch):
    """The driver cap turns into the collect's row limit at the larger of a
    query's two driver copies, its probe rows and its float64 query row:
    a batch one row over it is fetched once, at most cap + 1 rows, and
    keeps the executor path."""
    model = models[(1, False)]
    queries = _queries(spark, sf_dir, "float")
    fetched = []

    def spy(queries, id_col, vec_col, row_bytes, max_bytes):
        got = vecstore.collect_queries(queries, id_col, vec_col, row_bytes, max_bytes)
        fetched.append((max_bytes // row_bytes, got is not None))
        return got

    monkeypatch.setattr(search_mod, "collect_queries", spy)
    # the query row binds at the real probe rows (3 × 64 B < 8 × 64 B);
    # priced at a query row each, the probe rows bind
    assert NPROBE * search_mod._probe_row_bytes(model) < 8 * model.dim
    real = search_mod._probe_row_bytes
    for probe_row, row_bytes in (
        (real, 8 * model.dim),
        (lambda m: 8 * m.dim, NPROBE * 8 * model.dim),
    ):
        fetched.clear()
        monkeypatch.setattr(search_mod, "_probe_row_bytes", probe_row)
        monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", (NQ - 1) * row_bytes)
        batch = search_mod._driver_batch(model, queries, "query_id", "qvec", NPROBE)
        assert batch is None and fetched == [(NQ - 1, False)]
        met = SearchMetrics()
        search(model, queries, topk=K, impl="arrow", metrics=met)
        assert fetched == [(NQ - 1, False)] * 2
        assert met.kernel == "jvm"
        monkeypatch.setattr(search_mod, "_ARROW_MAX_PROBE_BYTES", NQ * row_bytes)
        assert search_mod._driver_batch(model, queries, "query_id", "qvec", NPROBE)
        assert fetched[-1] == (NQ, True)


def test_over_cap_store_batch_collects_once(spark, sf_dir, models, monkeypatch):
    """An over-cap batch pays one discarded collect, in search(): the
    vec-store rerank takes its join form instead of trying again."""
    model = models[(1, True)]
    queries = _queries(spark, sf_dir, "float")
    calls = []
    real = vecstore.collect_queries

    def spy(*args, **kwargs):
        calls.append(args[0])
        return real(*args, **kwargs)

    _executor_path(monkeypatch)
    monkeypatch.setattr(search_mod, "collect_queries", spy)
    monkeypatch.setattr(vecstore, "collect_queries", spy)
    got = search(model, queries, topk=K).toPandas()
    assert len(got) == NQ * K
    assert len(calls) == 1


@pytest.fixture(scope="module")
def loaded(spark, models, tmp_path_factory):
    """{bits_per_dim: the store-less model, saved and reloaded}: it knows
    n_rows and fits the resident bound, so load() reads its arrays."""
    out = {}
    for bits in (1, 4):
        path = str(tmp_path_factory.mktemp(f"resident{bits}"))
        models[(bits, False)].save(path)
        out[bits] = RaBitQModel.load(spark, path)
        assert out[bits].resident is not None
    return out


@pytest.mark.parametrize("bits", [1, 4])
def test_resident_equals_spark_tails(spark, sf_dir, loaded, monkeypatch, bits):
    """An "auto" search of a loaded small model runs the driver scorer on
    its resident arrays, and its frame equals the forced Spark kernels
    (jvm and arrow, on the executor tail) and the executor path bit for
    bit, for float and double queries."""
    model = loaded[bits]
    for elem in ("float", "double"):
        queries = _queries(spark, sf_dir, elem)
        met = SearchMetrics()
        resident = _sorted(search(model, queries, topk=K, metrics=met))
        assert met.kernel == "driver" and "resident" in met.kernel_reason
        assert f"{model.resident.nbytes} B" in met.kernel_reason
        assert len(resident) == NQ * K
        for impl in ("jvm", "arrow"):
            met_s = SearchMetrics()
            spark_tail = _sorted(search(model, queries, topk=K, impl=impl, metrics=met_s))
            assert met_s.kernel == impl
            pd.testing.assert_frame_equal(resident, spark_tail, check_exact=True)
        with monkeypatch.context() as m:
            _executor_path(m)
            met_x = SearchMetrics()
            executor = _sorted(search(model, queries, topk=K, metrics=met_x))
        assert met_x.kernel == "jvm"
        pd.testing.assert_frame_equal(resident, executor, check_exact=True)


@pytest.mark.parametrize("bits", [1, 4])
def test_resident_adaptive_equals_jvm_waves(spark, sf_dir, loaded, bits):
    """Every search_adaptive wave over a resident model runs the driver
    scorer, and the result equals the same waves on the jvm join."""
    model = loaded[bits]
    queries = _queries(spark, sf_dir, "float")
    stats: dict = {}
    got = _sorted(search_adaptive(model, queries, topk=K, stats=stats))
    assert stats["waves"] >= 1
    assert set(stats["wave_kernels"]) == {"driver"}
    jvm_stats: dict = {}
    want = _sorted(
        search_adaptive(model, queries, topk=K, kernel="jvm", stats=jvm_stats)
    )
    assert set(jvm_stats["wave_kernels"]) == {"jvm"}
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_resident_search_runs_one_job(spark, sf_dir, loaded):
    """A resident search runs ONE Spark job, the query collect, with the
    metrics on or off. Its counts: rough_count is every pair scored, the
    jvm plan's observed candidate count; precise_count the top-R rows;
    rerank_base_rows the distinct shortlisted ids the resident base
    gathered."""
    model = loaded[1]
    queries = _queries(spark, sf_dir, "float")

    def run(metrics=None):
        search(model, queries, topk=K, metrics=metrics).collect()

    run()  # warm
    assert _jobs(spark, "resident:bare", run) == 1
    met = SearchMetrics()
    assert _jobs(spark, "resident:metrics", lambda: run(met)) == 1
    assert met.kernel == "driver"
    jvm = SearchMetrics()
    search(model, queries, topk=K, impl="jvm", metrics=jvm).collect()
    pairs = _pairs(model.index_df, met.probed_clusters)
    assert met.rough_count == jvm.rough_count == pairs
    assert met.precise_count == jvm.precise_count
    r = K * search_mod.auto_overfetch(model, NPROBE, K)
    probes, block, counts, _ = search_mod._prepare_batch(
        model, queries, "query_id", "qvec", NPROBE
    )
    ids = search_mod._shortlist(
        model, "jvm", r, probes=probes, block=block, clusters=counts
    ).toPandas()["orig_id"]
    assert met.precise_count == len(ids)
    assert met.rerank_base_rows == ids.nunique() < model.n_rows
    assert set(met.counts) == {"rough_count", "precise_count", "rerank_base_rows"}


def test_resident_arrays_follow_the_frames(spark, sf_dir, models, loaded, tmp_path):
    """The arrays serve only the frames they were read with: reassigning
    index_df or base_df, or a tombstone-resolving load, collects the index
    rows again, with the same rows where the data is the same."""
    from rabitq_spark.streaming.index_stream import load_index_with_tombstones

    model = loaded[1]
    queries = _queries(spark, sf_dir, "float")
    want = _sorted(search(model, queries, topk=K))
    for frame in ("index_df", "base_df"):
        moved = copy.copy(model)
        setattr(moved, frame, getattr(model, frame).select("*"))
        met = SearchMetrics()
        got = _sorted(search(moved, queries, topk=K, metrics=met))
        assert met.kernel == "driver", frame
        assert "index rows collected" in met.kernel_reason, frame
        pd.testing.assert_frame_equal(got, want, check_exact=True)

    path = str(tmp_path / "model")
    models[(1, False)].save(path)
    spark.createDataFrame([(0, 0)], "vec_id long, seq long").write.parquet(
        f"{path}/tombstones"
    )
    tomb = load_index_with_tombstones(spark, path)
    met = SearchMetrics()
    got = _sorted(search(tomb, queries, topk=K, metrics=met))
    assert met.kernel == "driver" and "index rows collected" in met.kernel_reason
    assert len(got) == NQ * K and 0 not in set(got["neighbor_id"])


def test_service_answers_from_resident_arrays(spark, sf_dir, loaded):
    """A SearchService over a resident model answers each query with the
    rows search() returns for it, ids and dists bit for bit."""
    import json
    import urllib.request

    from rabitq_spark.service import SearchService

    model = loaded[1]
    rows = _queries(spark, sf_dir, "double").filter("query_id < 3").collect()
    with SearchService(spark, model) as svc:
        for row in rows:
            vec = [float(x) for x in row["qvec"]]
            req = urllib.request.Request(
                f"http://127.0.0.1:{svc.port}/query",
                data=json.dumps({"query": vec, "top_k": K}).encode(),
                headers={"Content-Type": "application/json"},
            )
            got = json.loads(urllib.request.urlopen(req).read())
            qdf = spark.createDataFrame([(0, vec)], "query_id long, qvec array<double>")
            met = SearchMetrics()
            want = sorted(
                search(model, qdf, topk=K, metrics=met).collect(),
                key=lambda r: r["rank"],
            )
            assert met.kernel == "driver"
            assert got["ids"] == [r["neighbor_id"] for r in want]
            assert got["scores"] == [r["dist"] for r in want]
