#!/usr/bin/env python
"""Scale probe: replicate sf0.1 tables ~10x (key-shifted) and re-time
the standing sweep list (or ``SCALE_QUERIES``).  Evidence that the
plans scale linearly rather than blowing up on data volume; results
recorded in SCALE.md.

Core scaling at the 10× point: run it once per core count and compare
the two JSON lines (each records its ``cpus``), e.g.
``SPARK_GRAFT_CPUS=8 SCALE_QUERIES=cds_flatten,graph_pagerank_topk
python scripts/scale_probe.py``.

Writes only inside the repo (.scratch/, gitignored).  Replicas are
kept and reused through their ``_REPLICA_FACTOR`` marker; ``rm -rf
.scratch`` drops them.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (
    ensure_replica,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.session import build_session
from runner import run_query

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SCALE_FACTOR", "10"))
# factor 10 shares bench.py's replica; other factors get their own
# dir so switching scale points never thrashes a rebuild (the
# _REPLICA_FACTOR marker would correctly force one otherwise)
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEST = os.path.join(
    _REPO, ".scratch", "sf1" if FACTOR == 10 else f"x{FACTOR}"
)


def main():
    global DEST
    spark = build_session(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DEST, exist_ok=True)
    built = ensure_replica(spark, SRC, DEST, FACTOR)
    print("replica " + ("built" if built else "reused"), file=sys.stderr)

    # SCALE_SALT_DOCS=k → run against the REALISTIC-dup-rate documents
    # arm (VERDICT r8 item 4): replica text word-salted per replica
    # except 1-in-k docs that keep exact dups, so dedup pair outputs
    # stop being fixture-quadratic.  Non-document tables symlink to
    # the plain replica.
    salt = os.environ.get("SCALE_SALT_DOCS")
    if salt:
        from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (
            ensure_salted_documents,
        )

        DEST = ensure_salted_documents(
            spark, SRC, DEST + "_salted", factor=FACTOR,
            keep_dup_one_in=int(salt), link_from=DEST,
        )
        print(f"salted docs arm (1-in-{salt} exact dups): {DEST}",
              file=sys.stderr)

    # one canonical standing list, shared with `bench.py --sweep`
    # (VERDICT r9 item 7); the exclusion rationale lives on the tuple
    from bench import SWEEP_QUERIES

    queries = SWEEP_QUERIES
    # SCALE_QUERIES=a,b,c confines the sweep (the 100x decade runs a
    # focused headliner+iterative set; the full standing list at 100x
    # would take hours without adding plan-shape information)
    subset = os.environ.get("SCALE_QUERIES")
    if subset:
        queries = tuple(n for n in subset.split(",") if n)
    runs = int(os.environ.get("SCALE_RUNS", "2"))
    timings = {}
    for name in queries:
        timings[name] = round(min(run_query(spark, name, DEST, runs)), 3)
        print(f"  {name}: {timings[name]} s", file=sys.stderr)
    print(json.dumps({"metric": "scale_probe", "factor": FACTOR,
                      "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                      "queries": timings,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
