"""The query-timing loop that bench.py and the probe scripts share
(``runner.run_query``, at sf0.001), and bench.py's helpers that need no
Spark session: the bounded quiet-box wait before the JVM starts and
the load stamp taken after the run."""

from __future__ import annotations

import __spark_entry__ as entrymod
import bench
from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
    check_hot_buckets,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY
from runner import run_query


def test_run_query_times_each_run_and_releases_storage(spark, sf_dir):
    """Each run is timed, and the checkpoints pagerank's loop leaves
    behind are released, so the next query starts on an empty store."""
    secs = run_query(spark, "graph_pagerank_topk", sf_dir, runs=2)
    assert len(secs) == 2 and all(s > 0 for s in secs)
    # RDDs holding cached or checkpointed blocks in the session
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0


def test_run_query_drains_hot_bucket_observations(spark, sf_dir):
    """An action on an LSH entry completes its hot-bucket observation;
    run_query drains it, and so does the driver contract's next
    ``queries()`` call, so none stays queued for a later check."""
    quiet = {"emit": lambda m: None}
    drainers = [
        lambda: run_query(spark, "dedup_minhash_pairs", sf_dir, runs=1),
        # a non-LSH entry: building it queues no observation of its own
        lambda: entrymod.queries()["q1_pricing_summary"](spark, sf_dir),
    ]
    for drain in drainers:
        check_hot_buckets(**quiet)
        REGISTRY["dedup_minhash_pairs"].fn(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        assert check_hot_buckets(clear=False, **quiet) != []
        drain()
        assert check_hot_buckets(clear=False, **quiet) == []


def test_bench_wait_for_quiet(monkeypatch):
    """bench._wait_for_quiet (VERDICT r8 item 2): waits while loadavg
    is above the cap, returns once it drops, and proceeds loudly on
    timeout instead of waiting forever."""
    loads = iter([5.0, 5.0, 1.0, 1.0])
    slept: list = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (next(loads), 0, 0))
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    clock = iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0])
    monkeypatch.setattr(bench.time, "monotonic", lambda: next(clock))
    waited = bench._wait_for_quiet(cap=2.0, max_wait=300, poll=10)
    assert slept == [10]  # one wait tick, then the box went quiet
    assert waited >= 0

    # timeout path: loadavg never drops, the wait gives up at max_wait
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.9, 0, 0))
    clock2 = iter([0.0, 100.0, 400.0, 500.0])
    monkeypatch.setattr(bench.time, "monotonic", lambda: next(clock2))
    slept.clear()
    waited = bench._wait_for_quiet(cap=2.0, max_wait=300, poll=10)
    assert slept == [10]  # one tick at t=100, timeout observed at 400
    assert waited == 500.0


def test_box_load_reads_quiet_from_five_minute_average(monkeypatch):
    """``quiet`` follows the 5-minute loadavg, not the 1-minute one,
    and the 1/5/15-minute values are stored next to it."""
    # r11's headline: a calm last minute inside a loaded run
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.2, 11.1, 6.04321))
    assert bench._box_load() == {"loadavg": [1.2, 11.1, 6.04], "quiet": False}

    # a spike in the last minute of an otherwise calm run
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 3.99, 2.0))
    assert bench._box_load() == {"loadavg": [9.0, 3.99, 2.0], "quiet": True}

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 4.0, 0.5))
    assert bench._box_load()["quiet"] is False
