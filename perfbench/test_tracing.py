"""Self-tests for the benchmark's Spark-free pieces. No JVM is started.

    python3 -m pytest perfbench -q
"""

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import tracing  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    node_layer,
    parse_metric,
    percentile,
    plan_figures,
    tail_level,
    union_length,
    uncovered,
)


# -- percentile rule -----------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0.5) == 3
    assert percentile(xs, 0.2) == 1
    assert percentile(xs, 0.21) == 2
    assert percentile(xs, 1.0) == 5
    assert percentile(list(range(1, 101)), 0.9) == 90


def test_percentile_needs_samples():
    with pytest.raises(ValueError):
        percentile([], 0.5)


@pytest.mark.parametrize(
    "n, level",
    [(1, None), (20, None), (99, None), (100, 0.9), (999, 0.9), (1000, 0.99)],
)
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert tail_level(n) == level


# -- intervals and self time -----------------------------------------------------


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(3, 4), (0, 1), (0.5, 2)]) == 3
    assert union_length([(1, 1), (2, 1)]) == 0


def test_uncovered_clips_to_the_span():
    span = Span("search", 10.0, 20.0, 0, None, 1)
    assert uncovered(span, []) == 10
    assert uncovered(span, [(12, 14), (13, 15)]) == pytest.approx(7)
    assert uncovered(span, [(5, 11), (19, 25)]) == pytest.approx(8)
    assert uncovered(span, [(0, 30)]) == 0


def test_tracer_nests_spans_and_shares_request_ids():
    tr = Tracer()
    with tr.span("op", request=7) as op:
        with tr.span("search") as s:
            with tr.span("search.plan") as p:
                pass
    assert s.parent == op.span_id and p.parent == s.span_id
    assert op.request == s.request == p.request == 7
    assert op.start <= s.start <= p.start <= p.end <= s.end <= op.end
    assert [x.name for x in tr.subtree(s)] == ["search", "search.plan"]


def _manual(tr, name, start, end, parent=None, request=None):
    s = Span(name, start, end, len(tr.spans), parent, request)
    tr.spans.append(s)
    return s


def test_jobs_attach_to_innermost_open_span_and_give_the_driver_gap():
    tr = Tracer()
    op = _manual(tr, "op", 0.0, 10.0, request=1)
    search = _manual(tr, "search", 1.0, 9.0, op.span_id, 1)
    plan = _manual(tr, "search.plan", 1.0, 4.0, search.span_id, 1)
    execute = _manual(tr, "search.execute", 4.0, 9.0, search.span_id, 1)
    tr.attach_jobs([
        # stored submission times are whole ms: may read before the span
        {"job_id": 0, "submit": 0.9995, "complete": 2.0, "stage_ids": [0], "status": "SUCCEEDED"},
        {"job_id": 1, "submit": 5.0, "complete": 6.0, "stage_ids": [1], "status": "SUCCEEDED"},
        {"job_id": 2, "submit": 5.5, "complete": 7.0, "stage_ids": [2], "status": "SUCCEEDED"},
        {"job_id": 3, "submit": 50.0, "complete": 51.0, "stage_ids": [3], "status": "SUCCEEDED"},
    ])
    assert [j.attrs["job_id"] for j in tr.children(plan)] == [0]
    assert [j.attrs["job_id"] for j in tr.children(execute)] == [1, 2]
    jobs = tr.jobs_under(search)
    assert len(jobs) == 3 and all(j.request == 1 for j in jobs)
    gap = uncovered(search, [(j.start, j.end) for j in jobs])
    # job walls (1 s + 2 s union) plus the gap account for the 8 s call
    assert gap == pytest.approx(8 - 1.0 - 2.0)
    # self time of `search`: its two children cover it whole
    assert uncovered(search, [(c.start, c.end) for c in (plan, execute)]) == 0


# -- metric strings --------------------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("2,000", 2000),
        ("0", 0),
        ("20 ms", 20),
        ("945.0 KiB", 945 * 1024),
        ("0.0 B", 0),
        ("total (min, med, max (stageId: taskId))\n7.1 s (1.7 s, 1.8 s, 1.9 s (stage 2.0: task 5))", 7100),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", 90000),
        ("total (min, med, max (stageId: taskId))\n2.8 MiB (1.2 MiB, 1.4 MiB, 1.6 MiB (stage 3.0: task 9))",
         2.8 * (1 << 20)),
    ],
)
def test_parse_metric_totals(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_without_total():
    assert parse_metric(None) is None
    assert parse_metric("(min, med, max (stageId: taskId))\n(1, 2, 3 (stage 0.0: task 1))") is None
    assert parse_metric("12 fortnights") is None


# -- operator -> layer --------------------------------------------------------------


@pytest.mark.parametrize(
    "name, desc, layer",
    [
        ("MapInPandas", "MapInPandas prep(query_id#25L, qvec#26)#27, [query_id#28L], false", "search.prep"),
        ("MapInPandas", "MapInPandas score(cluster_id#3, code#4)#9, [query_id#10L], false", "search.rough"),
        ("MapInPandas", "MapInPandas rr(query_id#1L, orig_id#2L)#5, [query_id#6L], false", "rerank"),
        ("MapInPandas", "MapInPandas transform(orig_id#3L, vec#1)#6, [cluster_id#7], false", "build"),
        ("MapInPandas", "MapInPandas gen(id#0L)#2, [id#3L], false", "python"),
        ("BroadcastHashJoin", "BroadcastHashJoin [cluster_id#20], [cluster_id#29], Inner, BuildRight, false",
         "search.rough"),
        ("BroadcastHashJoin", "BroadcastHashJoin [orig_id#14L], [orig_id#21L], Inner, BuildRight, false", "rerank"),
        ("BroadcastHashJoin", "BroadcastHashJoin [query_id#28L], [query_id#50L], Inner, BuildRight, false",
         "rerank"),
        ("SortMergeJoin", "SortMergeJoin [b#40, k#41], [b#50, k#51], Inner, (doc_id#39L < doc_id#49L)",
         "dedup.band"),
        ("SortMergeJoin", "SortMergeJoin [id_b#61L], [id_b#70L], Inner", "dedup.verify"),
        ("SortMergeJoin", "SortMergeJoin [x#1], [y#2], Inner", "join"),
        ("Window", "Window [row_number() windowspecdefinition(query_id#28L, rough#47 ASC) AS rank#48]", "topk"),
        ("WindowGroupLimit", "WindowGroupLimit [query_id#28L], [rough#47 ASC], row_number(), 160, Final", "topk"),
        ("HashAggregate", "HashAggregate(keys=[cluster_id#29], functions=[count(1)])", "spark"),
    ],
)
def test_node_layer(name, desc, layer):
    assert node_layer(name, desc) == layer


def _node(nid, name, desc, rows=None, cluster=None, **metrics):
    m = dict(metrics)
    if rows is not None:
        m[tracing.ROWS] = rows
    return {"id": nid, "name": name, "desc": desc, "metrics": m, "cluster": cluster}


def test_plan_figures_on_a_jvm_search_plan():
    """The shape of a jvm-path search() collect: rough join in a codegen
    stage, top-R window over it, rerank join, final top-k window."""
    nodes = [
        _node(1, "Filter", "Filter (rank#62 <= 10)", 50),
        _node(2, "Window", "Window [row_number() windowspecdefinition(query_id#28L, dist#56 ASC) AS rank#62]"),
        _node(3, "WindowGroupLimit", "WindowGroupLimit [query_id#28L], [dist#56 ASC], row_number(), 10, Final", 50),
        _node(4, "Sort", "Sort [query_id#28L ASC]"),
        _node(5, "Project", "Project [query_id#28L, orig_id#14L AS neighbor_id#55L]"),
        _node(6, "BroadcastHashJoin", "BroadcastHashJoin [orig_id#14L], [orig_id#21L], Inner, BuildRight", 800),
        _node(7, "Filter", "Filter ((rank#48 <= 160) AND isnotnull(orig_id#14L))", 800),
        _node(8, "Window", "Window [row_number() windowspecdefinition(query_id#28L, rough#47 ASC) AS rank#48]"),
        _node(9, "WindowGroupLimit", "WindowGroupLimit [query_id#28L], [rough#47 ASC], row_number(), 160, Final",
              800),
        _node(10, "AQEShuffleRead", "AQEShuffleRead coalesced"),
        _node(11, "Exchange", "Exchange hashpartitioning(query_id#28L, 4)"),
        _node(12, "WindowGroupLimit", "WindowGroupLimit [query_id#28L], [rough#47 ASC], row_number(), 160, Partial",
              1500, cluster=20),
        _node(13, "Project", "Project [query_id#28L, orig_id#14L, rough#47]", cluster=20),
        _node(14, "BroadcastHashJoin", "BroadcastHashJoin [cluster_id#20], [cluster_id#29], Inner, BuildRight",
              3000, cluster=20),
        _node(15, "Scan parquet", "FileScan parquet [orig_id#14L,code#15]", 900, cluster=20),
        _node(20, "WholeStageCodegen (4)", "WholeStageCodegen (4)", duration=420.0),
        _node(21, "MapInPandas", "MapInPandas prep(query_id#25L, qvec#26)#27, [query_id#28L]", 20,
              **{"time to run Python workers": 300.0, "time to start Python workers": 40.0,
                 "time to initialize Python workers": 60.0}),
    ]
    edges = [(2, 1), (3, 2), (4, 3), (5, 4), (6, 5), (7, 6), (8, 7), (9, 8), (10, 9), (11, 10), (12, 11),
             (13, 12), (14, 13), (15, 14)]
    f = plan_figures([{"nodes": {n["id"]: n for n in nodes}, "edges": edges}])
    assert f["search.rough.rows"] == 3000
    assert f["search.rough.codegen_ms"] == 420
    assert f["search.rough.arrow"] == 0
    assert f["search.shortlist_rows"] == 800
    assert f["topk.rows_in"] == 3000 + 800
    assert f["topk.rows_out"] == 800 + 50
    assert f["search.prep.python_ms"] == 300 and f["search.prep.rows"] == 20
    assert f["python_init_ms"] == 100


def test_plan_figures_marks_the_arrow_rough_path():
    score = _node(1, "MapInPandas", "MapInPandas score(cluster_id#3, code#4)#9, [query_id#10L]", 640,
                  **{"time to run Python workers": 75.0})
    f = plan_figures([{"nodes": {1: score}, "edges": []}])
    assert f["search.rough.arrow"] == 1
    assert f["search.rough.rows"] == 640 and f["search.rough.python_ms"] == 75


# -- BENCHMARK.json agrees with what the runner prints ---------------------------------


def test_benchmark_json_matches_the_runner():
    import run
    import workloads

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
