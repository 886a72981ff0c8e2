"""The benchmark's workloads: seeded inputs, set-up, one closed measuring
loop (one Spark process, at most one client), output checks, and the
per-layer figures of a traced run.

Every workload calls only the engine's public entry points with their
defaults: `build_index` -> `RaBitQModel.save`/`load` -> `search`,
`SearchService`, and `neardup_minhash_pairs`; recall is scored against
`knn_exact_fast`. Nothing is cached across runs: every run generates its
inputs from the seed and builds its own model in its own work directory.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import urllib.request
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rabitq_spark import RaBitQConfig
from rabitq_spark.index import RaBitQModel, build_index, search
from rabitq_spark.metrics import SearchMetrics
from rabitq_spark.operators.dedup import neardup_minhash_pairs
from rabitq_spark.operators.knn import knn_exact_fast
from rabitq_spark.service import SearchService

import status
from tracing import Tracer, plan_figures, uncovered

# Sizes. One run starts Spark, sets up three times, warms up and measures,
# and the whole run budget is about a minute on a 4-core box, where the
# first set-up of a process alone takes ~12 s. So the ANN base is 5k x 128:
# far below the 500k rows at which a plain save/load attaches the vec-store
# sidecar, so every rerank here is the base join. See README.md for the sizes.
ANN_ROWS = 5_000
DIM = 128
MIXTURE_CENTERS = 64
TOPK = 10
BATCH = 250           # queries per batch_knn search
BATCH_POOL = 4        # distinct held-out batches, cycled
SERVICE_REQUESTS = 5  # one-query HTTP requests of a traced batch_knn run, the first a warm-up
DEDUP_DOCS = 20_000
DOC_TOKENS = 40
VOCAB = 4096
DUP_EVERY = 20        # one doc in DUP_EVERY is a planted near-duplicate
JACCARD_MIN = 0.8     # neardup_minhash_pairs' default threshold
SETUP_REPS = 3
WARMUP_OPS = 3        # untimed ops before the loop: op walls fall steeply over the first three

DIST_RTOL = 1e-9      # engine dists are an exact double fold of float32 inputs
TRUTH_RTOL = 1e-6     # knn_exact_fast scores with a float64 GEMM expansion


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    trace: bool


@dataclass
class Outcome:
    setup_walls: list = field(default_factory=list)
    op_walls: list = field(default_factory=list)
    items: int = 0           # queries or docs processed by the timed ops
    attempted: int = 0
    failed: int = 0
    quality: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)


def traced_op(ctx: Ctx, i: int) -> bool:
    """A traced run alternates its timed ops, the first one traced: traced
    ops carry the per-call tracing hooks, the others run bare, so the
    hooks' cost is an in-process A/B."""
    return ctx.trace and i >= WARMUP_OPS and (i - WARMUP_OPS) % 2 == 0


# -- inputs ------------------------------------------------------------------


def gaussian_mixture(seed: int, n: int, dim: int = DIM) -> np.ndarray:
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((MIXTURE_CENTERS, dim)) * 3
    labels = rng.integers(0, MIXTURE_CENTERS, n)
    return (centers[labels] + rng.standard_normal((n, dim))).astype(np.float32)


def write_base(path: Path, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.ravel())
    table = pa.table({
        "id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "vec": pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32())),
    })
    pq.write_table(table, path)


def query_frame(spark, ids: np.ndarray, vecs: np.ndarray):
    pdf = pd.DataFrame({"query_id": ids.astype(np.int64), "qvec": list(vecs)})
    return spark.createDataFrame(pdf, "query_id long, qvec array<float>")


def planted_docs(seed: int, n: int) -> tuple[list[str], set[tuple[int, int]]]:
    """Random 40-token docs over a 4k vocabulary; every DUP_EVERY-th doc is
    its predecessor plus one appended word (3-shingle Jaccard 38/39)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{j:04d}" for j in range(VOCAB)])
    texts = [" ".join(t) for t in vocab[rng.integers(0, VOCAB, (n, DOC_TOKENS))]]
    extra = vocab[rng.integers(0, VOCAB, n)]
    planted = set()
    for i in range(DUP_EVERY - 1, n, DUP_EVERY):
        texts[i] = f"{texts[i - 1]} {extra[i]}"
        planted.add((i - 1, i))
    return texts, planted


def shingles(text: str, n: int = 3) -> set[str]:
    words = [w for w in text.split(" ") if w]
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


# -- checks --------------------------------------------------------------------


def exact_truth(ctx: Ctx, base_df, qids: np.ndarray, qvecs: np.ndarray, span: str) -> dict:
    """query_id -> (neighbor ids, ascending dists) from knn_exact_fast."""
    with ctx.tracer.span(span):
        rows = knn_exact_fast(query_frame(ctx.spark, qids, qvecs), base_df, TOPK).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append((float(r["dist"]), int(r["neighbor_id"])))
    return {
        q: ([i for _, i in sorted(v)], np.array([d for d, _ in sorted(v)]))
        for q, v in by_q.items()
    }


def check_answer(ids, dists, qvec: np.ndarray, base: np.ndarray, truth) -> tuple[bool, float]:
    """One query's top-k against the base it searched: k distinct in-range
    ids, dists ascending and equal to the exact squared L2 of each id, no
    dist below the exact i-th neighbour's. Returns (ok, recall@k)."""
    ids = [int(i) for i in ids]
    dists = np.asarray(dists, dtype=np.float64)
    ok = len(ids) == TOPK and len(set(ids)) == TOPK and all(0 <= i < len(base) for i in ids)
    if ok:
        diff = base[ids].astype(np.float64) - qvec.astype(np.float64)[None, :]
        exact = (diff * diff).sum(axis=1)
        ok = (
            bool(np.all(np.diff(dists) >= 0))
            and bool(np.allclose(dists, exact, rtol=DIST_RTOL, atol=0))
            and bool(np.all(dists >= truth[1] * (1 - TRUTH_RTOL)))
        )
    recall = len(set(ids) & set(truth[0])) / TOPK
    return ok, recall


# -- set-up --------------------------------------------------------------------


def ann_config(n: int):
    k = round(math.sqrt(n))
    return RaBitQConfig(n_clusters=k, nprobe=max(1, round(k / 32)), topk=TOPK)


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes of every file under path, parquet files under path/index)."""
    total = n_index = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
            if f.endswith(".parquet") and Path(root).is_relative_to(path / "index"):
                n_index += 1
    return total, n_index


def build_and_save(ctx: Ctx, out: Outcome, base_path: Path, path: Path) -> None:
    base_df = ctx.spark.read.parquet(str(base_path))
    with ctx.tracer.span("build.call"):
        model = build_index(base_df, ann_config(ANN_ROWS), n_rows=ANN_ROWS)
    with ctx.tracer.span("model.save"):
        model.save(str(path))
    stored, index_files = dir_bytes(path)
    out.layers.update({
        "model.stored_bytes": stored,
        "model.index_files": index_files,
        "model.stored_bytes_ratio": stored / (ANN_ROWS * DIM * 4),
    })


def batch_setup(ctx: Ctx, out: Outcome, base_path: Path):
    """The batch user's set-up: build_index -> save -> load, SETUP_REPS
    times, each into a fresh directory; the last loaded model is searched."""
    for rep in range(SETUP_REPS):
        path = ctx.work / f"model-{rep}"
        with ctx.tracer.span("setup", request=rep) as s:
            build_and_save(ctx, out, base_path, path)
            with ctx.tracer.span("model.load"):
                model = RaBitQModel.load(ctx.spark, str(path))
        out.setup_walls.append(s.wall)
    return model


# -- workloads -------------------------------------------------------------------


def closed_loop(ctx: Ctx, out: Outcome, do_op) -> list:
    """One client, one op at a time: WARMUP_OPS untimed ops (JIT, codegen
    and Python workers are per-process costs, paid once), then ops back to
    back until `ctx.seconds` have passed, at least one. `do_op(i, span)`
    returns the op's output, kept as None when it raised. Returns every
    op's output, the warm-ups' first; all of them are checked."""
    outputs = []
    deadline = math.inf
    i = 0
    while i <= WARMUP_OPS or time.time() < deadline:
        name = "warmup" if i < WARMUP_OPS else "op"
        with ctx.tracer.span(name, request=i, traced=traced_op(ctx, i)) as op:
            try:
                outputs.append(do_op(i, op))
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                out.notes.append(f"op {i} failed: {e!r}"[:300])
                outputs.append(None)
        if i == WARMUP_OPS - 1:
            deadline = time.time() + ctx.seconds
        elif i >= WARMUP_OPS:
            out.op_walls.append(op.wall)
        i += 1
    return outputs


def traced_search(ctx: Ctx, model, qdf, i: int, holder) -> list:
    """search() then collect, as two spans under one `search` span; a traced
    op also wires the engine's rerank counter (rerank.base_rows_read)."""
    metrics = SearchMetrics(observe_rough=False, observe_precise=False) if traced_op(ctx, i) else None
    with ctx.tracer.span("search"):
        with ctx.tracer.span("search.plan"):
            df = search(model, qdf, metrics=metrics)
        with ctx.tracer.span("search.execute"):
            rows = df.collect()
    if metrics is not None:
        holder.attrs["rerank_base_rows"] = metrics.rerank_base_rows
        holder.attrs["result_rows"] = len(rows)
    return rows


def batch_knn(ctx: Ctx) -> Outcome:
    """Back-to-back batches of BATCH held-out queries on a saved and
    reloaded model."""
    out = Outcome()
    vecs = gaussian_mixture(ctx.seed, ANN_ROWS + BATCH * BATCH_POOL)
    base, pool = vecs[:ANN_ROWS], vecs[ANN_ROWS:]
    base_path = ctx.work / "base.parquet"
    write_base(base_path, base)
    model = batch_setup(ctx, out, base_path)
    batches = [np.arange(b * BATCH, (b + 1) * BATCH) for b in range(BATCH_POOL)]
    frames = [query_frame(ctx.spark, ids, pool[ids]) for ids in batches]

    outputs = closed_loop(
        ctx, out, lambda i, op: traced_search(ctx, model, frames[i % BATCH_POOL], i, op)
    )

    base_df = ctx.spark.read.parquet(str(base_path))
    used = np.concatenate(batches[: min(len(outputs), BATCH_POOL)])
    truth = exact_truth(ctx, base_df, used, pool[used], "knn.truth")
    if ctx.trace:  # the exact control on one batch (knn.brute_s), and the service layer
        exact_truth(ctx, base_df, batches[0], pool[batches[0]], "knn.brute")
        service_probe(ctx, out, model, base, pool, truth, outputs[0])
    for i, rows in enumerate(outputs):
        out.attempted += BATCH
        out.items += BATCH * (i >= WARMUP_OPS)
        if rows is None:
            out.failed += BATCH
            continue
        got: dict = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(r)
        for q in batches[i % BATCH_POOL]:
            ranked = sorted(got.get(int(q), []), key=lambda r: r["rank"])
            ok, recall = check_answer(
                [r["neighbor_id"] for r in ranked], [r["dist"] for r in ranked],
                pool[q], base, truth[int(q)],
            )
            ok = ok and [r["rank"] for r in ranked] == list(range(1, TOPK + 1))
            out.failed += not ok
            out.quality.append(recall)
    return out


def service_probe(ctx: Ctx, out: Outcome, model, base, pool, truth, batch_rows) -> None:
    """The service layer, in traced batch_knn runs: one SearchService over
    the loaded model, one client, SERVICE_REQUESTS one-query HTTP requests
    (the first a warm-up) for the first queries of batch 0. Each request is
    followed by the same query as search().collect() on the one-row frame
    the service builds, without HTTP (service.direct_search_ms). Each answer
    must pass check_answer and equal, ids and dists bit for bit, both that
    direct search and the rows the batch search returned for the query."""
    expected: dict = {}
    for r in sorted(batch_rows or [], key=lambda r: r["rank"]):
        ids, dists = expected.setdefault(int(r["query_id"]), ([], []))
        ids.append(r["neighbor_id"])
        dists.append(r["dist"])
    svc = SearchService(ctx.spark, model)
    svc.start()
    url = f"http://127.0.0.1:{svc.port}/query"
    mismatches = 0
    try:
        for q in range(SERVICE_REQUESTS):
            vec = [float(x) for x in pool[q]]
            body = json.dumps({"query": vec}).encode()
            request = urllib.request.Request(url, data=body, headers={"Content-Type": "application/json"})
            out.attempted += 1
            try:
                with ctx.tracer.span("service.request", warmup=q == 0):
                    with urllib.request.urlopen(request, timeout=120) as r:
                        resp = json.loads(r.read())
                qdf = ctx.spark.createDataFrame([(0, vec)], "query_id long, qvec array<double>")
                with ctx.tracer.span("service.direct", warmup=q == 0):
                    rows = sorted(search(model, qdf).collect(), key=lambda r: r["rank"])
            except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
                out.notes.append(f"service request {q} failed: {e!r}"[:300])
                out.failed += 1
                continue
            ok, _ = check_answer(resp["ids"], resp["scores"], pool[q], base, truth[q])
            got = (resp["ids"], resp["scores"])
            same = got == ([r["neighbor_id"] for r in rows], [r["dist"] for r in rows]) == expected.get(q)
            mismatches += not same
            out.failed += not (ok and same)
    finally:
        svc.stop()
    if mismatches:
        out.notes.append(f"{mismatches} service answers differ from search() rows")


def dedup_minhash(ctx: Ctx) -> Outcome:
    """neardup_minhash_pairs over a planted-duplicate corpus, repeated on
    the same cached docs."""
    out = Outcome()
    texts, planted = planted_docs(ctx.seed, DEDUP_DOCS)
    pdf = pd.DataFrame({"doc_id": np.arange(DEDUP_DOCS, dtype=np.int64), "text": texts})
    docs = None
    for rep in range(SETUP_REPS):
        if docs is not None:
            docs.unpersist(True)
        with ctx.tracer.span("setup", request=rep) as s:
            docs = ctx.spark.createDataFrame(pdf, "doc_id long, text string").cache()
            docs.count()
        out.setup_walls.append(s.wall)

    def dedup(i: int, op) -> list:
        with ctx.tracer.span("dedup.hash"):
            df = neardup_minhash_pairs(docs)
        with ctx.tracer.span("dedup.join_verify"):
            rows = df.collect()
        op.attrs["result_rows"] = len(rows)
        return rows

    outputs = closed_loop(ctx, out, dedup)

    true_jaccard: dict = {}

    def pair_ok(a: int, b: int, jac: float) -> bool:
        if (a, b) not in true_jaccard:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            true_jaccard[(a, b)] = len(sa & sb) / len(sa | sb)
        true = true_jaccard[(a, b)]
        return a < b and true >= JACCARD_MIN and abs(true - jac) <= 1e-12

    wrong = 0
    for i, rows in enumerate(outputs):
        out.attempted += 1
        out.items += DEDUP_DOCS * (i >= WARMUP_OPS)
        if rows is None:
            out.failed += 1
            continue
        bad = sum(not pair_ok(int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])) for r in rows)
        wrong += bad
        out.failed += bad > 0
        found = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        out.quality.append(len(found & planted) / len(planted))
    if wrong:
        out.notes.append(f"{wrong} reported pairs fail re-verification at Jaccard >= {JACCARD_MIN}")
    return out


WORKLOADS = {
    "batch_knn": batch_knn,
    "dedup_minhash": dedup_minhash,
}


# -- per-layer figures (traced runs) ---------------------------------------------

PER_LAYER = {
    "session.start_s": "s",
    "build.call_s": "s",
    "build.transform_python_ms": "ms",
    "build.jobs": "count",
    "model.save_s": "s",
    "model.load_s": "s",
    "model.stored_bytes": "B",
    "model.index_files": "count",
    "model.stored_bytes_ratio": "ratio",
    "search.plan_s": "s",
    "search.prep_python_ms": "ms",
    "search.probe_rows": "count",
    "search.rough_path_arrow": "fraction",
    "search.rough_python_ms": "ms",
    "search.rough_codegen_ms": "ms",
    "search.rough_rows_out": "count",
    "search.shortlist_rows": "count",
    "search.execute_s": "s",
    "search.jobs": "count",
    "search.stages": "count",
    "search.tasks": "count",
    "search.driver_gap_ms": "ms",
    "search.python_init_ms": "ms",
    "search.executor_cpu_ms": "ms",
    "search.executor_run_ms": "ms",
    "search.gc_ms": "ms",
    "search.shuffle_write_bytes": "B",
    "search.shuffle_fetch_wait_ms": "ms",
    "search.result_bytes": "B",
    "search.failed_tasks": "count",
    "search.shortlist_yield": "ratio",
    "rerank.python_ms": "ms",
    "rerank.base_rows_read": "count",
    "rerank.rows_per_result": "ratio",
    "topk.window_rows_in": "count",
    "topk.window_rows_out": "count",
    "knn.brute_s": "s",
    "knn.ivf_over_brute": "ratio",
    "service.request_ms": "ms",
    "service.direct_search_ms": "ms",
    "service.overhead_ms": "ms",
    "service.jobs_per_request": "count",
    "dedup.hash_s": "s",
    "dedup.hash_cpu_ms": "ms",
    "dedup.join_verify_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.jobs": "count",
    "dedup.stages": "count",
    "dedup.shuffle_write_bytes": "B",
    "dedup.shuffle_fetch_wait_ms": "ms",
    "dedup.spill_bytes": "B",
    "trace.overhead_ms": "ms",
}


def spark_counters(job_spans, stage_data: dict) -> dict:
    sids = {s for j in job_spans for s in j.attrs["stage_ids"] if s in stage_data}
    c = {k: sum(stage_data[s][k] for s in sids) for k in status.STAGE_FIELDS}
    c["jobs"] = len(job_spans)
    c["stages"] = len(sids)
    return c


def layer_report(ctx: Ctx, out: Outcome) -> dict:
    """Every PER_LAYER figure for this run: per-call medians over the traced
    ops; 0 for layers the workload does not reach."""
    tr = ctx.tracer
    jobs = status.jobs(ctx.spark)
    tr.attach_jobs(jobs)
    stage_data = status.stages(ctx.spark, [s for j in jobs for s in j["stage_ids"]])
    execs = status.executions(ctx.spark)
    owner = {}
    for ex in execs:
        span = tr.innermost_at(ex["submit"])
        if span is not None:
            owner.setdefault(span.span_id, []).append(ex)

    def execs_under(span) -> list:
        return [ex for s in tr.subtree(span) for ex in owner.get(s.span_id, [])]

    def med(values, scale=1.0) -> float:
        values = [v for v in values if v is not None]
        return statistics.median(values) * scale if values else 0.0

    r = {k: 0.0 for k in PER_LAYER}
    r.update({k: v for k, v in out.layers.items() if k in r})
    r["session.start_s"] = tr.named("session.start")[0].wall

    def child(span, name):
        return next(s for s in tr.children(span) if s.name == name)

    builds = tr.named("build.call")
    if builds:
        r["build.call_s"] = med([s.wall for s in builds])
        r["build.jobs"] = med([len(tr.jobs_under(s)) for s in builds])
        r["build.transform_python_ms"] = med(
            [plan_figures(execs_under(s))["build.python_ms"] for s in tr.named("model.save")])
        r["model.save_s"] = med([s.wall for s in tr.named("model.save")])
        r["model.load_s"] = med([s.wall for s in tr.named("model.load")])

    traced = [s for s in tr.named("op") if s.attrs.get("traced")]
    bare = [s for s in tr.named("op") if not s.attrs.get("traced")]
    if traced and bare:
        r["trace.overhead_ms"] = med([s.wall for s in traced], 1e3) - med([s.wall for s in bare], 1e3)
    traced_requests = {s.request for s in traced}
    calls = [s for s in tr.named("search") if s.request in traced_requests]
    if calls:
        per_call = []
        for s in calls:
            js = tr.jobs_under(s)
            c = spark_counters(js, stage_data)
            f = plan_figures(execs_under(s))
            holder = next(h for h in traced if h.request == s.request)
            result_rows = holder.attrs.get("result_rows") or 0
            base_rows = holder.attrs.get("rerank_base_rows") or 0
            per_call.append({
                "search.plan_s": child(s, "search.plan").wall,
                "search.execute_s": child(s, "search.execute").wall,
                "search.prep_python_ms": f["search.prep.python_ms"],
                "search.probe_rows": f["search.prep.rows"],
                "search.rough_path_arrow": f["search.rough.arrow"],
                "search.rough_python_ms": f["search.rough.python_ms"],
                "search.rough_codegen_ms": f["search.rough.codegen_ms"],
                "search.rough_rows_out": f["search.rough.rows"],
                "search.shortlist_rows": f["search.shortlist_rows"],
                "search.jobs": c["jobs"],
                "search.stages": c["stages"],
                "search.tasks": c["tasks"],
                "search.driver_gap_ms": uncovered(s, [(j.start, j.end) for j in js]) * 1e3,
                "search.python_init_ms": f["python_init_ms"],
                "search.executor_cpu_ms": c["executor_cpu_ns"] / 1e6,
                "search.executor_run_ms": c["executor_run_ms"],
                "search.gc_ms": c["gc_ms"],
                "search.shuffle_write_bytes": c["shuffle_write_bytes"],
                "search.shuffle_fetch_wait_ms": c["shuffle_fetch_wait_ms"],
                "search.result_bytes": c["result_bytes"],
                "search.failed_tasks": c["failed_tasks"],
                "search.shortlist_yield": result_rows / f["search.rough.rows"] if f["search.rough.rows"] else 0.0,
                "rerank.python_ms": f["rerank.python_ms"],
                "rerank.base_rows_read": base_rows,
                "rerank.rows_per_result": base_rows / result_rows if result_rows else 0.0,
                "topk.window_rows_in": f["topk.rows_in"],
                "topk.window_rows_out": f["topk.rows_out"],
            })
        for k in per_call[0]:
            r[k] = med([p[k] for p in per_call])
        paths = sorted({"arrow" if p["search.rough_path_arrow"] else "jvm" for p in per_call})
        out.notes.append(f"rough path per traced search: {'/'.join(paths)} over {len(per_call)} calls")

    brute = tr.named("knn.brute")
    if brute and calls:
        r["knn.brute_s"] = med([s.wall for s in brute])
        r["knn.ivf_over_brute"] = med([s.wall for s in calls]) / r["knn.brute_s"]

    requests = [s for s in tr.named("service.request") if not s.attrs["warmup"]]
    if requests:
        r["service.request_ms"] = med([s.wall for s in requests], 1e3)
        r["service.direct_search_ms"] = med(
            [s.wall for s in tr.named("service.direct") if not s.attrs["warmup"]], 1e3)
        r["service.overhead_ms"] = r["service.request_ms"] - r["service.direct_search_ms"]
        r["service.jobs_per_request"] = med([len(tr.jobs_under(s)) for s in requests])

    if tr.named("dedup.hash"):
        per_op = []
        for op in (o for o in traced if o.attrs.get("result_rows") is not None):
            h, jv = child(op, "dedup.hash"), child(op, "dedup.join_verify")
            c = spark_counters(tr.jobs_under(op), stage_data)
            f = plan_figures(execs_under(op))
            verified = op.attrs.get("result_rows") or 0
            per_op.append({
                "dedup.hash_s": h.wall,
                "dedup.hash_cpu_ms": spark_counters(tr.jobs_under(h), stage_data)["executor_cpu_ns"] / 1e6,
                "dedup.join_verify_s": jv.wall,
                "dedup.candidate_pairs": f["dedup.candidates"],
                "dedup.verified_pairs": verified,
                "dedup.verify_yield": verified / f["dedup.candidates"] if f["dedup.candidates"] else 0.0,
                "dedup.jobs": c["jobs"],
                "dedup.stages": c["stages"],
                "dedup.shuffle_write_bytes": c["shuffle_write_bytes"],
                "dedup.shuffle_fetch_wait_ms": c["shuffle_fetch_wait_ms"],
                "dedup.spill_bytes": c["memory_spill_bytes"] + c["disk_spill_bytes"],
            })
        for k in per_op[0] if per_op else ():
            r[k] = med([p[k] for p in per_op])
    return r
