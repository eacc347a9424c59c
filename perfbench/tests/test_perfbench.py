"""Tests of the benchmark itself, at sf0.001.

    python -m pytest perfbench/tests -q

The workload tests start a JVM each (about a minute for ``release``).
"""

from __future__ import annotations

import csv
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, run, workloads  # noqa: E402

SF0001 = os.path.join(ROOT, "perfbench", "data", "sf0.001")


@pytest.fixture
def bench_env(tmp_path):
    """The benchmark's process environment, undone after the test."""
    env, cwd = dict(os.environ), os.getcwd()
    run.environment(str(tmp_path))
    yield str(tmp_path)
    os.chdir(cwd)
    os.environ.clear()
    os.environ.update(env)


def _expected(name: str) -> oracle.Expected:
    from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY

    return oracle.run_oracles(SF0001, [name], lambda q: REGISTRY[q].oracle)[name]


def _write_part(path, cols, rows) -> None:
    """A part file in write_tsv's layout: tab-separated, header, NULL as ''."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w", newline="") as f:
        w = csv.writer(f, delimiter="\t", quotechar='"', escapechar="\\",
                       doublequote=False, lineterminator="\n")
        w.writerow(cols)
        w.writerows(["" if v is None else v for v in r] for r in rows)


def _changed_cell(rows: list[tuple]) -> list[tuple]:
    first = list(rows[0])
    i = next(i for i, v in enumerate(first) if isinstance(v, (int, float, str)))
    first[i] = first[i] + 1 if isinstance(first[i], (int, float)) else first[i] + "x"
    return [tuple(first), *rows[1:]]


def test_row_check_rejects_changed_cell_and_dropped_row():
    exp = _expected("q3_revenue_by_order")
    rows = list(exp.rows)
    assert len(rows) > 1
    assert oracle.check_rows(exp, exp.cols, rows) is None
    # columns in another order are the same result
    flipped = [tuple(reversed(r)) for r in rows]
    assert oracle.check_rows(exp, tuple(reversed(exp.cols)), flipped) is None
    assert oracle.check_rows(exp, exp.cols, _changed_cell(rows)) is not None
    assert oracle.check_rows(exp, exp.cols, rows[1:]) is not None


def test_tsv_check_rejects_changed_cell_and_dropped_row(tmp_path):
    exp = _expected("entity_golden_record")
    rows = list(exp.rows)
    ok, changed, dropped = (str(tmp_path / d) for d in ("ok", "changed", "dropped"))
    _write_part(ok, exp.cols, rows)
    _write_part(changed, exp.cols, _changed_cell(rows))
    _write_part(dropped, exp.cols, rows[1:])
    assert oracle.check_tsv(exp, ok, full=True) == (len(rows), None)
    assert oracle.check_tsv(exp, changed, full=True)[1] is not None
    assert oracle.check_tsv(exp, dropped, full=True)[1] is not None
    # a row-count check still catches the dropped row
    assert oracle.check_tsv(exp, dropped, full=False)[1] is not None


def _run(workload, work_dir, trace=True):
    r = workloads.Run(workload, seed=7, seconds=0, trace=trace,
                      data_dir=SF0001, work_dir=work_dir)
    r.execute()
    return r


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_runs_to_end_with_checks_passing(bench_env, name):
    w = workloads.WORKLOADS[name]
    r = _run(w, bench_env)
    ops = [o for rnd in r.rounds for o in rnd.ops]
    assert len(r.timed) == 1
    assert len(r.rounds) == (1 if w.fresh_session_per_round else 2)
    assert sorted(o.op.query for o in r.timed[0].ops) == sorted(w.queries)
    assert [o.error for o in ops] == [None] * len(ops)
    e2e = r.end_to_end()
    assert all(v > 0 for v, _ in e2e.values()), e2e
    layers = r.per_layer()
    assert set(workloads.LAYER_KEYS) <= set(layers)
    assert r.accounting_ok(), r.record["job_windows"]
    jobs = r.record["job_windows"][0]["status_store_jobs"]
    assert layers["exec.jobs"][0] + layers["queries.build_jobs"][0] == jobs > 0
    assert layers["sources.written_mb"][0] > 0


def test_counters_read_above_zero_for_a_known_query(bench_env):
    w = workloads.Workload(
        name="probe",
        head=(workloads.Op("q3_revenue_by_order"),), shuffled=(),
    )
    r = _run(w, bench_env)
    layers = r.per_layer()
    assert layers["queries.py4j_calls"][0] > 0
    assert layers["exec.stages"][0] > 0
    assert layers["exec.cpu_s"][0] > 0
    assert r.end_to_end()["cpu_s"][0] > 0
