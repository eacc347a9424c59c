#!/usr/bin/env python
"""cds_flatten stage decomposition at the 10x replica of
$SPARK_GRAFT_SF_DIR (default sf0.1; r11 item 1).

Runs the query with the noop sink, then dumps per-stage input records
and executor CPU seconds from the REST API so the 14-arm union scan's
cost is measured, not guessed.  Optionally writes the formatted plan.

Usage: python scripts/cds_stage_probe.py [query] [plan_out.txt]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import (  # noqa: E402
    REGISTRY,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (  # noqa: E402
    ensure_replica,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.session import (  # noqa: E402
    build_session,
)
from runner import release_persisted, run_query  # noqa: E402


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}{path}", timeout=10
    ) as r:
        return json.load(r)


def main() -> int:
    name = sys.argv[1] if len(sys.argv) > 1 else "cds_flatten"
    plan_out = sys.argv[2] if len(sys.argv) > 2 else None
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dest = os.path.join(_REPO, ".scratch", "sf1")
    spark = build_session(
        app_name=f"cds-probe-{name}",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_replica(spark, src, dest, factor=10)

    # warm run (codegen, page cache), then the measured run
    spark.sparkContext.setJobDescription(f"{name}: warm")
    run_query(spark, name, dest, runs=1)

    if plan_out:
        df = REGISTRY[name].fn(spark, dest)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        txt = df._jdf.queryExecution().explainString(mode)
        with open(plan_out, "w") as f:
            f.write(txt)
        release_persisted(spark)

    mark = max(
        (s["stageId"] for s in _api(spark, "/stages?status=complete")),
        default=-1,
    )
    spark.sparkContext.setJobDescription(f"{name}: measured")
    (wall,) = run_query(spark, name, dest, runs=1)

    stages = [
        s
        for s in _api(spark, "/stages?status=complete")
        if s["stageId"] > mark
    ]
    stages.sort(key=lambda s: -s.get("executorCpuTime", 0))
    tot_cpu = sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
    tot_in = sum(s.get("inputRecords", 0) for s in stages)
    print(f"== {name}: wall {wall:.2f}s, {len(stages)} stages, "
          f"exec CPU {tot_cpu:.1f}s, input records {tot_in:,}")
    for s in stages[:25]:
        print(
            f"  stage {s['stageId']:>4} cpu {s.get('executorCpuTime', 0) / 1e9:7.2f}s "
            f"in {s.get('inputRecords', 0):>12,} "
            f"shw {s.get('shuffleWriteRecords', 0):>10,} "
            f"shr {s.get('shuffleReadRecords', 0):>10,}  "
            f"{s['name'][:100]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
