"""One definition of "run one query": the timing loop that ``bench.py``
(headline, 10× point, salted arm, ``--sweep``) and the probe scripts
share.

A run builds a registry entry, writes it to the noop sink (every row
is produced, nothing is kept) and is timed from construction to the
end of the write, because iterative entries run eager jobs while
their plan is built.
"""

from __future__ import annotations

import sys
import time

from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
    check_hot_buckets,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY


def run_query(spark, name: str, sf_dir: str, runs: int = 2) -> list[float]:
    """Time ``runs`` executions of ``REGISTRY[name]`` at ``sf_dir``.

    Returns each run's wall seconds.  After every run, completed LSH
    hot-bucket observations are drained (warnings go to stderr, so a
    caller's stdout stays one JSON line) and the session's persisted
    storage is released, so neither the next run nor the next query
    executes beside this run's checkpoints.
    """
    fn = REGISTRY[name].fn
    secs: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs.append(time.perf_counter() - t0)
        check_hot_buckets(emit=lambda m: print("WARNING: " + m, file=sys.stderr))
        release_persisted(spark)
    return secs


def release_persisted(spark) -> None:
    """Unpersist every RDD the session holds: caches and the
    ``localCheckpoint`` blocks that query construction leaves behind.

    Call it only when no other query is running on the session.  A
    query still being built or executed may read a checkpoint this
    drops, and a ``localCheckpoint`` block cannot be recomputed.
    """
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jrdds.keySet().toArray()):
        jrdds.get(rid).unpersist()
