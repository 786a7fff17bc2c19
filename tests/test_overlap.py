"""Failure containment of the overlapped driver-thread stacks
(inventory_llm._overlap2): a failing stack cancels its sibling's Spark
jobs, including jobs of an overlap nested inside the sibling."""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from rust_dms_cdc_operator_spark.inventory_llm import _overlap2

LONG_JOB_S = 90


def _sleep_batches(it):
    time.sleep(LONG_JOB_S)
    yield from it


def test_nested_overlap_cancelled_when_outer_sibling_raises(spark):
    sc = spark.sparkContext

    def long_job():
        return spark.range(1, numPartitions=1).mapInPandas(
            _sleep_batches, "id long"
        ).collect()

    def fail_once_inner_job_runs():
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "inner job never started"
            time.sleep(0.1)
        raise RuntimeError("sibling failed")

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="sibling failed"):
        _overlap2(
            spark,
            lambda: _overlap2(spark, long_job, lambda: None),
            fail_once_inner_job_runs,
        )
    # the inner stack's job was cancelled, not waited out
    assert time.monotonic() - t0 < LONG_JOB_S / 3
    assert not sc.statusTracker().getActiveJobsIds()
    assert not sc.getJobTags()


def test_overlap_returns_both_results(spark):
    a, b = _overlap2(
        spark,
        lambda: spark.range(10).count(),
        lambda: _overlap2(spark, lambda: 1, lambda: spark.range(3).count()),
    )
    assert (a, b) == (10, (1, 3))


def test_concurrent_overlaps_get_distinct_tags(spark):
    """More callers than cores open overlaps at once; every call's
    stacks must carry a tag no other call shares."""
    sc = spark.sparkContext

    def tags_seen_by_stack(_):
        tags, _none = _overlap2(spark, sc.getJobTags, lambda: None)
        return tags

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            seen = list(pool.map(tags_seen_by_stack, range(64), timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert all(len(t) == 1 for t in seen), seen
    assert len({t for s in seen for t in s}) == 64
