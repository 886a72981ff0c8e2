"""Read what the engine did from Spark's status stores, from outside it.

`jobs` and `stages` come from the core status store (the one behind the
Spark UI, populated whether or not the UI runs); `executions` from the SQL
status store, one entry per SQL execution with its final (adaptive) plan
graph and the aggregated value of every operator metric.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from tracing import parse_metric


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _epoch(option_date) -> float | None:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else None


def jobs(spark: SparkSession) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(None)):
        submit = _epoch(j.submissionTime())
        if submit is None:
            continue
        complete = _epoch(j.completionTime())
        out.append({
            "job_id": j.jobId(),
            "submit": submit,
            "complete": complete if complete is not None else submit,
            "stage_ids": [int(s) for s in _seq(j.stageIds())],
            "status": str(j.status()),
        })
    return sorted(out, key=lambda j: j["job_id"])


STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "result_bytes": "resultSize",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def stages(spark: SparkSession, stage_ids) -> dict[int, dict]:
    """Counters of every attempt of each stage that ran, summed per stage.
    Stages a job skipped (their output was reused) have no attempt."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {}
    for sid in sorted(set(stage_ids)):
        attempts = [
            a for a in _seq(store.stageData(sid, False, None, False, no_quantiles))
            if str(a.status()) in ("COMPLETE", "FAILED")
        ]
        if attempts:
            out[sid] = {
                key: sum(int(getattr(a, getter)()) for a in attempts)
                for key, getter in STAGE_FIELDS.items()
            }
    return out


def executions(spark: SparkSession) -> list[dict]:
    """Every retained SQL execution: submission time, and per plan node its
    name, description, enclosing whole-stage-codegen cluster and metric
    totals (parsed with tracing.parse_metric)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        nodes, cluster_of = {}, {}
        for nd in _seq(graph.allNodes()):
            metrics = {}
            for m in _seq(nd.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes[nd.id()] = {"id": nd.id(), "name": nd.name(), "desc": nd.desc(), "metrics": metrics}
            if nd.getClass().getSimpleName() == "SparkPlanGraphCluster":
                for member in _seq(nd.nodes()):
                    cluster_of[member.id()] = nd.id()
        for nid, node in nodes.items():
            node["cluster"] = cluster_of.get(nid)
        edges = [(ed.fromId(), ed.toId()) for ed in _seq(graph.edges())]
        out.append({
            "execution_id": eid,
            "submit": e.submissionTime() / 1000.0,
            "description": e.description(),
            "nodes": nodes,
            "edges": edges,
        })
    return out
