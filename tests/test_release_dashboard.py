"""The release dashboard's concurrent sub-flows: a failing sub-flow
cancels its siblings' running jobs before the error propagates."""

from __future__ import annotations

import threading
import time

import pytest

from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import (
    REGISTRY,
    Query,
)


def _wait_until(cond, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.05)
    return cond()


def test_dashboard_failure_cancels_sibling_jobs(spark, sf_dir, monkeypatch):
    tracker = spark.sparkContext.statusTracker()
    assert _wait_until(lambda: not tracker.getActiveJobsIds(), 10)

    started = threading.Event()
    long_job_errors: list[Exception] = []

    def long_flow(spark_, sf_dir_):
        # minutes of single-pass work; range codegen honours task kills
        started.set()
        try:
            spark_.range(0, 1 << 38, 1, 2).selectExpr("sum(id)").collect()
        except Exception as ex:
            long_job_errors.append(ex)
            raise
        raise AssertionError("the long sibling job was not cancelled")

    def failing_flow(spark_, sf_dir_):
        # fail while the sibling's job is running
        started.wait(60)
        _wait_until(lambda: tracker.getActiveJobsIds(), 60)
        raise RuntimeError("sub-flow failed")

    def tiny(ddl, row):
        return lambda spark_, sf_dir_: spark_.createDataFrame([row], ddl)

    for name, fn in {
        "curation_violations": failing_flow,
        "cds_flatten": long_flow,
        "ccdi_to_dcf_index": tiny("guid string, size long", ("g", 1)),
        "ccdi_to_sra": tiny("library_ID string", ("L",)),
    }.items():
        monkeypatch.setitem(REGISTRY, name, Query(fn, None))

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="sub-flow failed"):
        REGISTRY["ccdi_release_dashboard"].fn(spark, sf_dir)
    assert time.monotonic() - t0 < 30
    assert len(long_job_errors) == 1  # its collect() was cancelled
    # the job-end event reaches the status store asynchronously
    assert _wait_until(
        lambda: not tracker.getActiveJobsIds() and not tracker.getActiveStageIds(),
        5,
    )
