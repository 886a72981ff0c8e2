"""Spark-free parts of the benchmark: spans, interval arithmetic, Spark SQL
metric strings, the operator-to-layer map and the percentile rule.

Everything here is plain Python so `test_tracing.py` runs without a JVM.
Span times are epoch seconds (`time.time()`), the clock Spark's status
store stamps jobs and SQL executions with, so engine work read back from the
status store lines up with the spans recorded around each public call.
"""

from __future__ import annotations

import json
import math
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# A job's submission time is stored in whole milliseconds, so it can read up
# to 1 ms before the span that submitted it started.
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, one list per run, written out once at the end.

    Spans nest by call order (the benchmark is one closed loop on one
    thread); `request` ties every span of one operation together.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, time.time(), math.nan, len(self.spans), parent, request, attrs)
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add_child(self, parent: Span, name: str, start: float, end: float, **attrs) -> Span:
        s = Span(name, start, end, len(self.spans), parent.span_id, parent.request, attrs)
        self.spans.append(s)
        return s

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        """`span` and every span below it."""
        out, frontier = [span], [span.span_id]
        while frontier:
            ids = set(frontier)
            kids = [s for s in self.spans if s.parent in ids]
            out.extend(kids)
            frontier = [s.span_id for s in kids]
        return out

    def innermost_at(self, t: float, exclude: str = "job") -> Span | None:
        """The deepest span open at time `t`: the latest-starting one, since
        spans nest and the open spans at one instant form a chain; on a tie
        the later-opened, which is the child."""
        best = None
        for s in self.spans:
            if s.name == exclude:
                continue
            if s.start - CLOCK_SLACK_S <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Add each Spark job as a child span of the span that submitted it.
        Jobs outside every span (none in a closed loop) are dropped."""
        for job in jobs:
            owner = self.innermost_at(job["submit"])
            if owner is None:
                continue
            self.add_child(
                owner, "job", job["submit"], job["complete"],
                job_id=job["job_id"], stage_ids=job["stage_ids"], status=job["status"],
            )

    def jobs_under(self, span: Span) -> list[Span]:
        return [s for s in self.subtree(span) if s.name == "job"]

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- intervals -------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float) -> list[tuple[float, float]]:
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def uncovered(span: Span, intervals) -> float:
    """Wall of `span` covered by none of `intervals`: a span's self time when
    they are its children, its Spark-driver gap when they are its jobs."""
    return span.wall - union_length(clip(intervals, span.start, span.end))


# -- Spark SQL metric strings ------------------------------------------------

_UNIT_SCALE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50,
    "ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)(?:\s+([A-Za-z]+))?")


def parse_metric(text: str | None) -> float | None:
    """Total of a metric as the SQL status store formats it: row counts as
    `12,345`, sizes in bytes, times in milliseconds. A metric aggregated over
    several tasks reads `total (min, med, max (...))\\n<total> (<min>, ...)`;
    the total is the first figure of the last line. Averages (no total)
    give None."""
    if text is None:
        return None
    line = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = _VALUE.fullmatch(line)
    if m is None:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNIT_SCALE:
        return None
    return value * _UNIT_SCALE[unit]


# -- operator -> layer -------------------------------------------------------

# MapInPandas nodes name the Python function they run; these are the
# engine's per-layer kernels (index/build.py, index/search.py,
# index/vecstore.py).
PYTHON_FUNCTION_LAYERS = {
    "transform": "build",
    "write": "model",
    "prep": "search.prep",
    "score": "search.rough",
    "rr": "rerank",
    "rr_join": "rerank",
}
_PY_NODE = re.compile(r"(?:MapInPandas|MapInArrow|FlatMapGroupsInPandas)\s+(\w+)\(")
_JOIN_KEYS = re.compile(r"^\w*Join\w*\s+\[([^\]]*)\]")


def python_function(desc: str) -> str | None:
    m = _PY_NODE.match(desc)
    return m.group(1) if m else None


def join_keys(desc: str) -> list[str]:
    """Left join-key column names of a join node, without expression ids."""
    m = _JOIN_KEYS.match(desc)
    if not m:
        return []
    return [re.sub(r"#\d+L?$", "", k.strip()) for k in m.group(1).split(",") if k.strip()]


def node_layer(name: str, desc: str) -> str:
    """Layer an executed operator belongs to, from its type and, for Python
    nodes, the function it runs. Joins are told apart by their keys:
    cluster_id is the probe x index join (rough scoring), orig_id/query_id
    the exact rerank, (b, k) the MinHash band join, id_a/id_b the verify."""
    fn = python_function(desc)
    if fn is not None:
        return PYTHON_FUNCTION_LAYERS.get(fn, "python")
    if "Join" in name:
        keys = set(join_keys(desc))
        if "cluster_id" in keys:
            return "search.rough"
        if keys & {"orig_id", "query_id"}:
            return "rerank"
        if {"b", "k"} <= keys:
            return "dedup.band"
        if keys & {"id_a", "id_b"}:
            return "dedup.verify"
        return "join"
    if name in ("Window", "WindowGroupLimit"):
        return "topk"
    return "spark"


# The operators of one top-k window (topk_per_group): the rows entering it
# are the rows of the first operator below them that counts its rows.
_WINDOW_CHAIN = {"Window", "WindowGroupLimit", "Sort", "AQEShuffleRead", "Exchange"}
ROWS = "number of output rows"


def plan_figures(executions: list[dict]) -> dict:
    """Operator figures of one call, summed over its SQL executions and
    keyed by layer (tracing.node_layer)."""
    f = {k: 0.0 for k in (
        "build.python_ms", "search.prep.python_ms", "search.prep.rows", "search.rough.python_ms",
        "search.rough.arrow", "search.rough.codegen_ms", "search.rough.rows", "search.shortlist_rows",
        "rerank.python_ms", "python_init_ms", "topk.rows_in", "topk.rows_out", "dedup.candidates",
    )}
    for ex in executions:
        nodes = ex["nodes"]
        kids: dict = {}
        parent = {}
        for child, par in ex["edges"]:
            kids.setdefault(par, []).append(child)
            parent[child] = par

        def rows_below(nid: int) -> float:
            total = 0.0
            for c in kids.get(nid, []):
                node = nodes[c]
                if node["name"] not in _WINDOW_CHAIN and node["metrics"].get(ROWS) is not None:
                    total += node["metrics"][ROWS]
                else:
                    total += rows_below(c)
            return total

        for nid, n in nodes.items():
            m, layer = n["metrics"], node_layer(n["name"], n["desc"])
            rows = m.get(ROWS) or 0.0
            if python_function(n["desc"]) is not None:
                f["python_init_ms"] += (m.get("time to start Python workers") or 0) + (
                    m.get("time to initialize Python workers") or 0)
                if layer in ("build", "search.prep", "search.rough", "rerank"):
                    f[f"{layer}.python_ms"] += m.get("time to run Python workers") or 0
                if layer == "search.prep":
                    f["search.prep.rows"] += rows
                if layer == "search.rough":
                    f["search.rough.arrow"] = 1.0
                    f["search.rough.rows"] += rows
            elif layer == "search.rough":
                f["search.rough.rows"] += rows
                if n["cluster"] is not None:
                    f["search.rough.codegen_ms"] += nodes[n["cluster"]]["metrics"].get("duration") or 0
            elif layer == "dedup.verify":
                f["dedup.candidates"] = max(f["dedup.candidates"], rows)
            elif n["name"] == "Window" and nid in parent and nodes[parent[nid]]["name"] == "Filter":
                kept = nodes[parent[nid]]["metrics"].get(ROWS) or 0.0
                f["topk.rows_in"] += rows_below(nid)
                f["topk.rows_out"] += kept
                if "rough#" in n["desc"]:
                    f["search.shortlist_rows"] += kept
    return f


# -- percentiles -------------------------------------------------------------

TAIL_LEVELS = (0.99, 0.9)
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share q
    of all samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_level(n: int) -> float | None:
    """Highest tail percentile with at least MIN_BEYOND samples beyond it,
    or None when n samples support none (p90 needs 100)."""
    for q in TAIL_LEVELS:
        if n * (1 - q) >= MIN_BEYOND - 1e-9:
            return q
    return None
