#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload release --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  A full record of the run (load averages, per-round and,
when traced, per-operation figures and every span) is written under
``.bench_build/perfbench/records/``.  Exits non-zero without a result when
the engine cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "childhoodcancerdatainitiative_prefect_pipeline_spark"
#: Input tables: the sf0.01 synthetic set (see README.md).
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "2g"


def environment(work_dir: str) -> None:
    """Point every file Spark, the JVM and Python write into ``work_dir``,
    and give the engine every core this process may use."""
    tmp = os.path.join(work_dir, "tmp")
    for d in ("tmp", "spark-local", "cwd", "records"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # sf0.01 needs far less than the engine's 8g default; the box is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # java.io.tmpdir for Spark's scratch files; no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(os.path.join(work_dir, "cwd"))  # spark-warehouse lands here


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"engine package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    # import perfbench as a package of the checkout, not its files as top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    environment(WORK_DIR)
    run = workloads.Run(
        workloads.WORKLOADS[args.workload], args.seed, args.seconds,
        bool(args.trace), DATA_DIR, WORK_DIR,
    )
    run.execute()

    ops = [o for r in run.rounds for o in r.ops]
    failed = [o for o in ops if o.error]
    e2e = run.end_to_end()
    metrics = run.per_layer() if args.trace else e2e
    correct = not args.trace or run.accounting_ok()
    record = dict(
        run.record,
        end_to_end={k: v for k, (v, _) in e2e.items()},
        rounds=[{"round": r.index, "timed": r.timed, "wall_s": r.span["seconds"],
                 "cpu_s": r.cpu_s,
                 "ops": [{"query": o.op.query, "latency_s": o.span["seconds"],
                          "rows": o.n_rows, "error": o.error} for o in r.ops]}
                for r in run.rounds],
        failed=[{"query": o.op.query, "error": o.error} for o in failed],
    )
    if args.trace:
        record.update(
            per_layer={k: v for k, (v, _) in metrics.items()},
            accounting_ok=correct, missing_jobs=run.missing_jobs,
            spans=run.trace.spans,
        )
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK_DIR, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for o in failed:
        print(f"FAILED {o.op.query}: {o.error}", file=sys.stderr)
    print(
        f"loadavg before {run.record['loadavg_before']} after "
        f"{run.record['loadavg_after']} nproc {run.record['nproc']} "
        f"SPARK_GRAFT_CPUS {run.record['SPARK_GRAFT_CPUS']}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
