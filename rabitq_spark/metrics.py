"""Search metrics — the engine's analogue of the reference's global atomic
counters (src/metrics.rs:7-61; SURVEY.md A10).

Spark-native mechanism: `df.observe(Observation, ...)` attaches accumulator-
backed aggregates to a point in the plan; values materialize after the first
action, with zero extra passes over the data. Where the reference counts
rough-scored candidates vs precisely reranked candidates (src/rerank.rs:
104-105), we observe the candidate stream before and after the top-R
shortlist.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Observation


@dataclass
class SearchMetrics:
    """Holds Observations wired into a search plan by
    `rabitq_spark.index.search.search(..., metrics=...)`."""

    rough: Observation = field(default_factory=lambda: Observation("rabitq_rough"))
    precise: Observation = field(default_factory=lambda: Observation("rabitq_precise"))
    rerank: Observation = field(default_factory=lambda: Observation("rabitq_rerank"))
    # The rough/precise counters wrap the candidate stream and the top-R
    # shortlist in CollectMetrics nodes. At scale those nodes are ruinous
    # — bisected at 10M × 256 / 146M candidates (round 9): the rough
    # observer splits the whole-stage-codegen span over the full candidate
    # stream (+77 s), and the precise observer above the top-R filter
    # defeats the WindowGroupLimit pre-shuffle trim (+135 s on a 19 s
    # search). Large-scale callers disable both and derive the counts
    # analytically (rough = probe table ⋈ cluster sizes; precise ≈ nq × R)
    # — the rerank observer sits on streams bounded by nq × R rows with no
    # window/codegen interaction and measured free, so it has no flag.
    observe_rough: bool = True
    observe_precise: bool = True
    # The rough kernel that ran ("driver" | "jvm" | "arrow") and why it
    # was chosen (for "driver", its index source) — set by search() (and
    # search_adaptive(), for its last wave) from search.stage5_kernel when
    # the plan is built, so reading them costs no Spark job.
    kernel: str | None = None
    kernel_reason: str | None = None
    # The probe geometry — probe-table rows and {cluster_id: probe rows}
    # over the probed clusters — set by search() from the arrays it
    # already holds (the driver path's probe block, or the executor
    # path's probe-count job when it ran one), so reading them costs no
    # Spark job. None when the search did not resolve it.
    probe_rows: int | None = None
    probed_clusters: dict | None = None
    # Counts a search records from arrays it already holds on the driver
    # (search()'s driver tail: "rough_count", "precise_count", and
    # "rerank_base_rows" for a vec store or the resident base), read
    # before the Observations — no CollectMetrics node and no Spark job.
    counts: dict = field(default_factory=dict)

    def _count(self, obs: Observation, name: str) -> int:
        if name in self.counts:
            return int(self.counts[name])
        return int(obs.get[name])

    @property
    def rough_count(self) -> int:
        """Candidates scored by the quantized estimator (METRICS.rough)."""
        return self._count(self.rough, "rough_count")

    @property
    def precise_count(self) -> int:
        """Candidates exactly reranked (METRICS.precise)."""
        return self._count(self.precise, "precise_count")

    @property
    def rerank_base_rows(self) -> int:
        """Rows the exact rerank read from base storage: the full base row
        count under the join plan, the candidate count under the vec-store
        point-read plan (the distinct candidate ids on search()'s driver
        tail) — the measurable form of 'candidate-bound rerank' (round-8
        verdict item 5)."""
        return self._count(self.rerank, "rerank_base_rows")

    @property
    def ratio(self) -> float:
        """precise/rough — estimator selectivity (src/metrics.rs:30-41)."""
        r = self.rough_count
        return (self.precise_count / r) if r else 0.0
