"""Cost read from outside the engine.

- ``/proc`` gives CPU time and peak RSS of the JVM, of the Python workers
  it forks, and of this Python process; the JVM's management beans give
  its live heap and its garbage-collection time.
- A counter wrapped around the py4j gateway client counts round trips.
- Spark's status store (``SparkContext.statusStore``, populated with the
  UI disabled) gives per-job and per-stage metrics.  It is dumped as JSON
  through the Jackson mapper Spark ships, one py4j call per dump.
- A wrapper around ``catalog.load_testdata`` counts and times catalog loads.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds) of every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # fields after the ")" that closes the command name
        fields = stat[stat.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])
        table[int(d)] = (ppid, ticks / _CLK)
    return table


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants.

    Children's ``cutime``/``cstime`` are included, so a worker that exits
    and is reaped inside the window still counts (through its parent)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    table = _proc_table()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = [p for p, (pp, _) in table.items() if pp == pid]
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds so far of the JVM (and its Python workers) plus this
    Python process."""
    t = os.times()
    return tree_cpu_s(jvm_pid) + t.user + t.system


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def live_heap_mb(spark) -> float:
    """JVM heap in use, MiB, right after a full GC (the live set)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def jvm_gc_s(spark) -> float:
    """The JVM's total garbage-collection time so far, all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


class Py4jCounter:
    """Counts round trips through the py4j gateway client.

    Every thread's calls go through the one client object, so pool threads
    (the dashboard's sub-flows) are counted too."""

    def __init__(self, gateway) -> None:
        self._client = gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0

        def counted(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        del self._client.send_command


class CatalogCounter:
    """Counts and times ``catalog.load_testdata`` calls.

    Engine modules bind the function by name at import, so the wrapper
    replaces every such binding in the package's loaded modules."""

    def __init__(self, package: str) -> None:
        from childhoodcancerdatainitiative_prefect_pipeline_spark import catalog

        self._orig = orig = catalog.load_testdata
        self.calls = 0
        self.seconds = 0.0

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        self._bound = [
            m for name, m in list(sys.modules.items())
            if (name == package or name.startswith(package + "."))
            and getattr(m, "load_testdata", None) is orig
        ]
        for m in self._bound:
            m.load_testdata = counted

    def close(self) -> None:
        for m in self._bound:
            m.load_testdata = self._orig


class StatusStore:
    """Jobs, stages and cached storage as Spark's status store records them."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._sc = spark.sparkContext._jsc.sc()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _dump(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self._drain()
        return self._dump(self._sc.statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        self._drain()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._dump(
            self._sc.statusStore().stageList(
                None, False, False, no_quantiles, self._jvm.java.util.ArrayList()
            )
        )

    def cached_storage(self) -> tuple[int, float]:
        """(RDDs holding cached blocks, their memory+disk MiB)."""
        infos = self._sc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return len(infos), size / 2**20
