#!/usr/bin/env python
"""Generate PLANS.md: physical-plan statistics for every registry query.

For each entry: parquet scans, exchanges (shuffle vs broadcast), join
strategies, window/WindowGroupLimit nodes, and any Python-eval nodes
(there must be none outside the declared Arrow stages).  Declarative
queries compile without executing; the handful of ITERATIVE entries
(CC, PageRank, chain resolve) run their loop's localCheckpoint
jobs during construction, and their row shows the post-checkpoint stub
plan — the per-iteration cost lives in SCALE.md, not here.  Still
cheap to regenerate, and diffs meaningfully in review: a new Exchange
in a headline query shows up here before it shows up in a benchmark.

Usage: python scripts/plan_inventory.py [> PLANS.md is done internally]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY
from childhoodcancerdatainitiative_prefect_pipeline_spark.session import build_session

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)


def stats(plan: str) -> dict:
    tree = plan.split("\n\n", 1)[0]
    n_scans = len(re.findall(r"Scan parquet", tree))
    # "Exchange" as a whole word is the shuffle node; BroadcastExchange
    # has no word boundary before "Exchange" so it is not double-counted
    shuffles = len(re.findall(r"\bExchange\b", tree))
    return {
        "scans": n_scans,
        "shuffle_exchanges": shuffles,
        "broadcast_exchanges": len(re.findall(r"BroadcastExchange", tree)),
        "bhj": len(re.findall(r"BroadcastHashJoin", tree)),
        "smj": len(re.findall(r"SortMergeJoin", tree)),
        "shj": len(re.findall(r"ShuffledHashJoin", tree)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", tree)),
        "window": len(re.findall(r"\bWindow\b", tree)),
        "wgl": len(re.findall(r"WindowGroupLimit", tree)),
        "py": len(re.findall(r"BatchEvalPython", tree)),
        "arrow": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", tree)),
    }


def main() -> int:
    spark = build_session(app_name="plan-inventory", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    rows = []
    skipped = []
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, SF)
            plan = df._jdf.queryExecution().explainString(mode)
            rows.append((name, stats(plan)))
        except Exception as ex:  # noqa: BLE001 — iterative ops need actions
            skipped.append((name, type(ex).__name__))
    with open(OUT, "w") as fh:
        fh.write(
            "# PLANS — physical-plan inventory (auto-generated)\n\n"
            f"`scripts/plan_inventory.py` over {len(rows)} registry queries "
            f"at {SF}. Declarative plans compile without executing; iterative entries (CC, PageRank, chain resolve) execute their loop during construction and show the post-checkpoint stub plan — see SCALE.md for their per-iteration cost. Columns: "
            "parquet scans / shuffle Exchanges / broadcast Exchanges / "
            "join strategies / Window (+WindowGroupLimit) / Python-eval "
            "nodes (row-at-a-time; must be 0) / Arrow stages (declared "
            "Pandas boundaries).\n\n"
            "| query | scans | shuf | bcast | BHJ | SMJ | SHJ | BNLJ | win | WGL | py | arrow |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, s in rows:
            fh.write(
                f"| {name} | {s['scans']} | {s['shuffle_exchanges']} | "
                f"{s['broadcast_exchanges']} | {s['bhj']} | {s['smj']} | "
                f"{s['shj']} | {s['bnlj']} | {s['window']} | {s['wgl']} | "
                f"{s['py']} | {s['arrow']} |\n"
            )
        if skipped:
            fh.write(
                "\nSkipped (plan needs driver-side actions — iterative "
                "operators that loop on materialized frames):\n\n"
            )
            for name, why in skipped:
                fh.write(f"- `{name}` ({why})\n")
        total_py = sum(s["py"] for _, s in rows)
        fh.write(
            f"\nTotals: {sum(s['scans'] for _, s in rows)} scans, "
            f"{sum(s['shuffle_exchanges'] for _, s in rows)} shuffle "
            f"exchanges across {len(rows)} plans; row-at-a-time Python "
            f"nodes: **{total_py}**.\n"
        )
    print(f"wrote {OUT}: {len(rows)} plans, {len(skipped)} skipped")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
