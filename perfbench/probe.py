"""Measurement helpers: spans, Spark status-store readers, RSS sampling
and the host calibration job. Nothing here changes what Spark runs."""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans: [name, start, end, parent index, op id].

    Spans are opened by the benchmark around its calls into each
    library layer and written out once at the end of the run. Calls run
    on one thread, so children of a span never overlap each other and
    a span's self time is its duration minus the sum of its children's.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for name, t0, t1, _, _ in self.spans:
            out[name].append(t1 - t0)
        return out

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": t0, "end": t1,
                                     "parent": parent, "op": op}) + "\n")


_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(\d+),(\w+)\)")
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# display names of the Python-runner SQL metrics (PythonSQLMetrics)
_PY_METRICS = {"time to run Python workers": "python_udf_s",
               "time to start Python workers": "python_boot_s"}


def _seconds(text: str) -> float:
    """Total of a formatted timing metric: '6 ms' or
    'total (min, med, max ...)\\n1.2 s (...)'."""
    m = _DURATION.search(text.splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


class Engine:
    """Per-op readings of Spark under the library, by job group.

    Stage metrics come from the core status store, Python-worker times
    from the SQL status store (every SQL execution an op started, eager
    ones included), Catalyst phases from the forced query's tracker.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        self.next_exec = 0
        self.skip_executions()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def skip_executions(self) -> None:
        self.drain()
        while self._execution(self.next_exec) is not None:
            self.next_exec += 1

    def _execution(self, eid: int):
        opt = self.sql.execution(eid)
        return opt.get() if opt.isDefined() else None

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = defaultdict(float)
        stages = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        empty_q = self.sc._gateway.new_array(self.jvm.double, 0)
        for s in stages:
            attempts = self.store.stageData(s, False, self.jvm.java.util.ArrayList(), False, empty_q)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                tot["spill_mb"] += sd.diskBytesSpilled() / 1e6
        tot["jobs"] = float(len(job_ids))
        return dict(tot)

    def python_times(self) -> dict[str, float]:
        """Python UDF and worker-boot seconds of every SQL execution
        started since the last call."""
        tot = {"python_udf_s": 0.0, "python_boot_s": 0.0}
        self.drain()
        while (ui := self._execution(self.next_exec)) is not None:
            # an AQE re-plan lists a node's metrics again: one reading per id
            want = {int(acc): _PY_METRICS[name] for name, acc, _ in
                    _METRIC.findall(ui.metrics().toString()) if name in _PY_METRICS}
            if want:
                values = self.sql.executionMetrics(self.next_exec)
                for acc, key in want.items():
                    v = values.get(acc)
                    if v.isDefined():
                        tot[key] += _seconds(v.get())
            self.next_exec += 1
        return tot

    @staticmethod
    def catalyst_s(df) -> float:
        """Analysis + optimization + planning of an executed DataFrame."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total / 1e3

    def pins(self) -> tuple[int, float]:
        """(persistent RDDs alive, MB they hold in memory and on disk)."""
        n = self.sc._jsc.getPersistentRDDs().size()
        mb = sum((i.memSize() + i.diskSize()) for i in self.jsc.getRDDStorageInfo()) / 1e6
        return n, mb


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``interval`` seconds
    while running."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def tree_rss_mb(root: int) -> float:
        children = defaultdict(list)
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children[ppid].append(int(p))
        total, todo = 0, list(children[root])
        while todo:
            pid = todo.pop()
            todo.extend(children[pid])
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                continue
        return total / 1e6

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def calibrate(spark, rows: int = 10_000_000) -> float:
    """Wall of a fixed pure-JVM job (a hash-sum over a range), best of 3.
    Each try builds a new DataFrame: re-collecting one would reuse its
    materialized shuffle. A host-weather reading only: it never rescales
    a reported metric."""
    cores = spark.sparkContext.defaultParallelism
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, rows, 1, cores).selectExpr("sum(hash(cast(id * 7 AS string)) % 1000)").collect()
        best = min(best, time.perf_counter() - t0)
    return best
