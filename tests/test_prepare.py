"""Trained state is built by its one prepared() builder, never inside a
query run: once the kind behind an entry is prepared, the entry's first run
consumes the same Spark jobs as its second, and a kind is built once."""

from __future__ import annotations

import pytest

from rabitq_spark.queries import SPARK_QUERIES, prepared

# entry -> the kind of trained state it reads
_ENTRY_KIND = {
    "bpe_merges": "bpe",
    "ann_sq8": "sq8_bounds",
    "ann_ivf_multibit": "multibit2",
    "ann_ivf_earlystop": "ivf",
}


def _run_jobs(spark, name: str, sf_dir: str, tag: str) -> int:
    """Spark jobs one noop-sink run of `name` consumes (status store)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.mark.parametrize("name", sorted(_ENTRY_KIND))
def test_first_run_builds_nothing(spark, sf_dir, name):
    kind = _ENTRY_KIND[name]
    state = prepared(spark, sf_dir, kind)
    assert prepared(spark, sf_dir, kind) is state
    first = _run_jobs(spark, name, sf_dir, f"test_prepare:{name}:1")
    second = _run_jobs(spark, name, sf_dir, f"test_prepare:{name}:2")
    assert first > 0
    assert first == second, (name, first, second)
