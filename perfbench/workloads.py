"""The benchmark's workloads and the loop that runs one of them.

A run drives the engine from this one process, as a single client that
waits for each result before the next call, through its public functions
only: ``session.build_session``, ``catalog.load_testdata`` (the set-up's
warm-up), the registry callables ``queries.REGISTRY[name].fn``, the action
on the DataFrame they return (``collect()``), and ``sources.files.write_tsv``.

A run is: one JVM start; ``SETUPS`` set-ups, each a fresh session plus a
catalog load; then whole rounds of the workload's operations until
``seconds`` of timed rounds have passed.  A workload that keeps one
long-lived session first runs one warm-up round in it, untimed: its users
pay JVM warm-up once, not on every round.  A workload that starts a fresh
session per round times every round.  The seed sets the order of the
shuffled operations in every round.  Each operation's output is checked
against its registry oracle after its round, warm-up included; an
operation that raises or whose output is wrong counts as failed and the
run carries on.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import oracle, probes
from perfbench.spans import Trace, attribute, window_ms

PACKAGE = "childhoodcancerdatainitiative_prefect_pipeline_spark"

#: Fresh-session set-ups per run; ``setup_s`` is their median.
SETUPS = 3


@dataclass(frozen=True)
class Op:
    """One registry call and the action on the DataFrame it returns."""

    query: str
    #: the action is ``write_tsv`` to an artifact directory, else ``collect()``
    write: bool = False
    #: a written artifact is compared cell by cell, else by row count
    check_cells: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    head: tuple[Op, ...]
    shuffled: tuple[Op, ...]
    tail: tuple[Op, ...] = ()
    #: every round after the first starts in a new session, with its own
    #: set-up; otherwise one session lives on and the first round warms it up
    fresh_session_per_round: bool = False

    def round_ops(self, rng: random.Random) -> list[Op]:
        middle = list(self.shuffled)
        rng.shuffle(middle)
        return [*self.head, *middle, *self.tail]

    @property
    def queries(self) -> list[str]:
        return [op.query for op in (*self.head, *self.shuffled, *self.tail)]


#: Release artifacts whose row count the dashboard also reports.
DASHBOARD_COUNTS = {
    "ccdi_to_dcf_index": "n_index_rows",
    "ccdi_to_sra": "n_sra_rows",
    "cds_flatten": "n_cds_rows",
}

#: Why each workload is in the benchmark: BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="release",
            head=(
                Op("curation_violations"),
                Op("rules_validate"),
                Op("rules_repair"),
            ),
            shuffled=tuple(
                Op(q, write=True)
                for q in (
                    "ccdi_to_sra", "ccdi_to_dbgap", "ccdi_to_dcf_index",
                    "cds_flatten", "ccdi_to_tabbreaker",
                    "indexd_guid_validation",
                )
            ),
            tail=(Op("ccdi_release_dashboard"),),
            fresh_session_per_round=True,
        ),
        Workload(
            name="linkage",
            head=(),
            shuffled=(
                Op("entity_golden_record", write=True, check_cells=True),
                Op("dedup_cluster_components"),
                Op("dedup_cluster_star"),
                Op("graph_pagerank_topk"),
                Op("graph_kcore_membership"),
                Op("linkage_blocked_fuzzy"),
            ),
        ),
    )
}


@dataclass
class OpRun:
    op: Op
    span: dict
    rows: list | None = None
    cols: list[str] | None = None
    artifact: str | None = None
    n_rows: int | None = None
    error: str | None = None


@dataclass
class RoundRun:
    index: int
    timed: bool
    span: dict
    cpu_s: float
    ops: list[OpRun] = field(default_factory=list)
    gc_s: float = 0.0
    written_mb: float = 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One run of one workload: ``execute()``, then ``end_to_end()`` and,
    when traced, ``per_layer()``."""

    def __init__(self, workload: Workload, seed: int, seconds: float,
                 trace: bool, data_dir: str, work_dir: str) -> None:
        from childhoodcancerdatainitiative_prefect_pipeline_spark import (
            catalog, queries, session,
        )
        from childhoodcancerdatainitiative_prefect_pipeline_spark.sources import files

        self.w, self.seed, self.seconds, self.traced = workload, seed, seconds, trace
        self.data_dir, self.work_dir = data_dir, work_dir
        self._build_session = session.build_session
        self._load = catalog.load_testdata
        self._registry = queries.REGISTRY
        self._write_tsv = files.write_tsv
        self.rng = random.Random(seed)
        self.trace = Trace()
        self.setups: list[float] = []
        self.rounds: list[RoundRun] = []
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.missing_jobs = 0
        self.retained = (0, 0.0)
        self.record: dict = {
            "workload": workload.name, "seed": seed, "seconds": seconds,
            "trace": int(trace), "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_before": list(os.getloadavg()),
        }

    # -- session ---------------------------------------------------------

    def _new_session(self):
        with self.trace.span("session.build"):
            return self._build_session(app_name=f"perfbench-{self.w.name}")

    def _setup(self, spark):
        """Stop ``spark``; start a fresh session and load the catalog."""
        spark.stop()
        with self.trace.span("setup") as s:
            spark = self._new_session()
            with self.trace.span("catalog.load"):
                self._load(spark, self.data_dir)
        self.setups.append(s["seconds"])
        return spark

    # -- one round -------------------------------------------------------

    def _run_op(self, spark, op: Op, r: int) -> OpRun:
        with self.trace.span("op", query=op.query, round=r) as s:
            out = OpRun(op, s)
            try:
                with self.trace.span("build"):
                    df = self._registry[op.query].fn(spark, self.data_dir)
                if op.write:
                    out.artifact = os.path.join(
                        self.work_dir, "artifacts", self.w.name, op.query
                    )
                    with self.trace.span("write"):
                        self._write_tsv(df, out.artifact)
                else:
                    with self.trace.span("action"):
                        out.rows = df.collect()
                    out.cols = df.columns
            except Exception as ex:  # noqa: BLE001 - a failed op is counted, the run goes on
                out.error = f"raised {type(ex).__name__}: {str(ex)[:300]}"
                traceback.print_exc()
        return out

    def _check(self, rnd: RoundRun, expected: dict) -> None:
        ops = {o.op.query: o for o in rnd.ops}
        for o in rnd.ops:
            if o.error:
                continue
            exp = expected[o.op.query]
            if o.artifact is not None:
                o.n_rows, o.error = oracle.check_tsv(exp, o.artifact, o.op.check_cells)
                rnd.written_mb += oracle.tsv_bytes(o.artifact) / 2**20
            else:
                o.n_rows = len(o.rows)
                o.error = oracle.check_rows(exp, o.cols, o.rows)
        dash = ops.get("ccdi_release_dashboard")
        if dash is not None and dash.error is None and dash.rows:
            row = dash.rows[0].asDict()
            for q, fld in DASHBOARD_COUNTS.items():
                o = ops.get(q)
                if o is not None and o.error is None and o.n_rows != row[fld]:
                    o.error = f"{o.n_rows} artifact rows != dashboard {fld}={row[fld]}"
        for o in rnd.ops:
            o.rows = None  # release collected results before the next round

    def _harvest(self, spark, store: probes.StatusStore, last_job: int) -> int:
        """Pull the session's jobs and stages newer than ``last_job``."""
        jobs = [j for j in store.jobs() if j["jobId"] > last_job]
        if jobs:
            ids = {j["jobId"] for j in jobs}
            top = max(ids)
            # retention evicts the oldest jobs first; any gap means lost jobs
            self.missing_jobs += (top - last_job) - len(ids)
            last_job = top
        app = spark.sparkContext.applicationId
        seen = {(s["stageId"], s["attemptId"]) for s in self.stages
                if s["_app"] == app}
        for j in jobs:
            j["_app"] = app
        self.jobs.extend(jobs)
        for s in store.stages():
            if (s["stageId"], s["attemptId"]) not in seen:
                s["_app"] = app
                s.pop("details", None)
                self.stages.append(s)
        self.retained = store.cached_storage()
        return last_job

    # -- the run ---------------------------------------------------------

    def execute(self) -> None:
        with ThreadPoolExecutor(1) as pool:
            # oracles run in DuckDB while the JVM starts
            pending = pool.submit(
                oracle.run_oracles, self.data_dir, self.w.queries,
                lambda q: self._registry[q].oracle,
            )
            with self.trace.span("jvm_start") as js:
                spark = self._new_session()
        gateway = spark.sparkContext._gateway
        self.jvm_pid = gateway.proc.pid
        self.record["jvm_start_s"] = js["seconds"]
        counters = []
        try:
            expected = pending.result()
            spark.sparkContext.setLogLevel("ERROR")
            if self.traced:
                py4j = probes.Py4jCounter(gateway)
                cat = probes.CatalogCounter(PACKAGE)
                counters = [py4j, cat]
                self.trace.counters = {
                    "py4j_calls": lambda: py4j.calls,
                    "catalog_calls": lambda: cat.calls,
                    "catalog_s": lambda: cat.seconds,
                }
            for _ in range(SETUPS):
                spark = self._setup(spark)
            last_job = -1
            warmup_rounds = 0 if self.w.fresh_session_per_round else 1
            while True:
                r = len(self.rounds)
                if r and self.w.fresh_session_per_round:
                    spark, last_job = self._setup(spark), -1
                if r == warmup_rounds:
                    t_start = time.perf_counter()
                ops = self.w.round_ops(self.rng)
                gc0 = probes.jvm_gc_s(spark) if self.traced else 0.0
                cpu0 = probes.cpu_s(self.jvm_pid)
                with self.trace.span("round", round=r) as rs:
                    done = [self._run_op(spark, op, r) for op in ops]
                rnd = RoundRun(r, r >= warmup_rounds, rs,
                               probes.cpu_s(self.jvm_pid) - cpu0, done)
                if self.traced:
                    rnd.gc_s = probes.jvm_gc_s(spark) - gc0
                with self.trace.span("check", round=r):
                    self._check(rnd, expected)
                if self.traced:
                    with self.trace.span("harvest", round=r):
                        last_job = self._harvest(
                            spark, probes.StatusStore(spark), last_job
                        )
                self.rounds.append(rnd)
                if rnd.timed and time.perf_counter() - t_start >= self.seconds:
                    break
            self.peak_rss_mb = probes.peak_rss_mb(self.jvm_pid)
            self.live_heap_mb = probes.live_heap_mb(spark)
        finally:
            for c in counters:
                c.close()
            shutdown(spark, gateway)
        self.record["loadavg_after"] = list(os.getloadavg())

    # -- metrics ---------------------------------------------------------

    @property
    def timed(self) -> list[RoundRun]:
        return [r for r in self.rounds if r.timed]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Medians over the timed rounds.

        Query latency is a geometric mean, not a median: a round holds 6 to
        10 calls of very different sizes, and the seed's order moves the
        first write's or first loop's cold cost from one call to another,
        which makes the median jump between neighbours.  Memory is not
        here: neither the JVM's peak RSS nor its live heap repeats between
        runs of the same code (spreads of 13-26%), so both are per-layer
        figures without a bound."""
        latencies = [o.span["seconds"] for r in self.timed for o in r.ops]
        return {
            "setup_s": (_median(self.setups), "s"),
            "wall_s": (_median([r.span["seconds"] for r in self.timed]), "s"),
            "cpu_s": (_median([r.cpu_s for r in self.timed]), "s"),
            "query_gmean_s": (statistics.geometric_mean(latencies), "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Per-round sums over the round's operations, median over the
        timed rounds; retained storage as it stands after the last round."""
        t = self.trace
        leaves = t.leaves()
        jobs_at = attribute(leaves, self.jobs)
        stages_at = attribute(leaves, self.stages)
        per_round = []
        self.record["ops"] = ops_out = []
        self.record["job_windows"] = windows = []
        for rnd in self.timed:
            m = dict.fromkeys(LAYER_KEYS, 0.0)
            m["catalog.load_calls"] = rnd.span["catalog_calls"]
            m["catalog.load_s"] = rnd.span["catalog_s"]
            m["sources.written_mb"] = rnd.written_mb
            m["jvm.gc_s"] = rnd.gc_s
            lo, hi = window_ms(rnd.span)
            in_window = sum(
                1 for j in self.jobs
                if j.get("submissionTime") is not None
                and lo <= j["submissionTime"] <= hi
            )
            attributed = 0
            for o in rnd.ops:
                od = {"query": o.op.query, "round": rnd.index,
                      "latency_s": o.span["seconds"], "error": o.error}
                for leaf in (s for s in leaves if s["parent"] == o.span["id"]):
                    kind = leaf["name"]  # build, action or write
                    js = jobs_at.get(leaf["id"], [])
                    ss = stages_at.get(leaf["id"], [])
                    attributed += len(js)
                    od[f"{kind}_s"] = leaf["seconds"]
                    od[f"{kind}_py4j_calls"] = leaf["py4j_calls"]
                    od[f"{kind}_jobs"] = len(js)
                    od[f"{kind}_stages"] = len(ss)
                    od[f"{kind}_exec_cpu_s"] = _stage_sum(ss, "executorCpuTime") / 1e9
                    if kind == "build":
                        m["queries.build_s"] += leaf["seconds"]
                        m["queries.py4j_calls"] += leaf["py4j_calls"]
                        m["queries.build_jobs"] += len(js)
                        m["queries.build_stages"] += len(ss)
                        m["queries.build_cpu_s"] += _stage_sum(ss, "executorCpuTime") / 1e9
                        continue
                    if kind == "write":
                        m["sources.write_s"] += leaf["seconds"]
                    m["exec.action_s"] += leaf["seconds"]
                    m["exec.py4j_calls"] += leaf["py4j_calls"]
                    m["exec.jobs"] += len(js)
                    m["exec.stages"] += len(ss)
                    m["exec.tasks"] += _stage_sum(ss, "numCompleteTasks")
                    m["exec.cpu_s"] += _stage_sum(ss, "executorCpuTime") / 1e9
                    m["exec.input_mb"] += _stage_sum(ss, "inputBytes") / 2**20
                    m["exec.shuffle_read_mb"] += _stage_sum(ss, "shuffleReadBytes") / 2**20
                    m["exec.shuffle_write_mb"] += _stage_sum(ss, "shuffleWriteBytes") / 2**20
                    m["exec.spill_mb"] += _stage_sum(ss, "diskBytesSpilled") / 2**20
                ops_out.append(od)
            harvest = [s for s in t.spans
                       if s["name"] == "harvest" and s["round"] == rnd.index]
            m["trace.self_s"] = sum(s["seconds"] for s in harvest)
            m["trace.round_s"] = rnd.span["seconds"]
            per_round.append(m)
            windows.append({"round": rnd.index, "status_store_jobs": in_window,
                            "attributed_jobs": attributed})
        out = {k: (_median([m[k] for m in per_round]), LAYER_UNITS[k])
               for k in LAYER_KEYS}
        builds = [s["seconds"] for s in t.spans if s["name"] == "session.build"]
        out["session.build_s"] = (_median(builds[1:]), "s")  # [0] starts the JVM
        out["session.jvm_start_s"] = (self.record["jvm_start_s"], "s")
        out["jvm.peak_rss_mb"] = (self.peak_rss_mb, "MiB")
        out["jvm.live_heap_mb"] = (self.live_heap_mb, "MiB")
        out["operators.retained_rdds"] = (float(self.retained[0]), "count")
        out["operators.retained_mb"] = (self.retained[1], "MiB")
        return out

    def accounting_ok(self) -> bool:
        """Every job Spark recorded inside a round was attributed to one of
        its operations, and none was evicted before it was read."""
        windows = self.record.get("job_windows", [])
        return self.missing_jobs == 0 and all(
            w["status_store_jobs"] == w["attributed_jobs"] for w in windows
        )


def _stage_sum(stages: list[dict], key: str) -> float:
    return float(sum(s.get(key) or 0 for s in stages))


LAYER_UNITS = {
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.build_cpu_s": "s",
    "exec.action_s": "s",
    "exec.py4j_calls": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.input_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "sources.write_s": "s",
    "sources.written_mb": "MiB",
    "jvm.gc_s": "s",
    "trace.round_s": "s",
    "trace.self_s": "s",
}
LAYER_KEYS = tuple(LAYER_UNITS)


def shutdown(spark, gateway) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started have exited."""
    from pyspark import SparkContext

    proc = gateway.proc
    kids = probes.descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        # the next session in this process launches a new JVM
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit ends in kill
            proc.kill()
            proc.wait()
        for sig in (None, 9):
            if sig:
                for k in kids:
                    try:
                        os.kill(k, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 30
            while kids and time.monotonic() < deadline:
                kids = [k for k in kids if _alive(k)]
                time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")
