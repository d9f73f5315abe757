"""Per-layer spans read from Spark's own status stores, plus the driver-side
resident-memory sampler.

A span wraps one call into a library layer's public function. It times the
call (``driver_s``: until the DataFrame or object is returned, eager jobs
included) apart from the action the benchmark then runs on the result
(``exec_s``). The call and its action run under one job group; right after
them the span drains the listener bus and reads, through py4j with the UI
off:

- ``statusTracker().getJobIdsForGroup`` -> ``statusStore().job(id)`` ->
  ``lastStageAttempt(stage)``: completed tasks, executor CPU, shuffle read +
  write bytes, memory + disk spill;
- the SQL status store's ``planGraph(id).makeDotFile(executionMetrics(id))``
  for every SQL execution the call started: per-operator rows and the
  Python worker time, which arrive as formatted strings ("2,000,000",
  "1.7 s", "78.9 KiB").

Reading after every call keeps the stores' retention limits from dropping a
job before it is counted."""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "driver_s",
    "exec_s",
    "jobs",
    "tasks",
    "cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "rows_out",
)

JOIN_NAMES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

_NODE = re.compile(r'^(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*)"\];$')
_EDGE = re.compile(r"^(\d+)->(\d+);$")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """'2,000,000' -> 2e6; '78.9 KiB' -> bytes; '1.7 s' / '64 ms' -> seconds.
    Aggregated metrics ('total (min, med, max ...)') carry the total first."""
    head = text.strip().split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


class Plan:
    """One SQL execution's physical plan: nodes with their metrics, and the
    child -> parent edges."""

    def __init__(self, dot: str):
        self.nodes: dict[int, tuple[str, str, dict[str, float]]] = {}
        self.children: dict[int, list[int]] = defaultdict(list)
        for line in dot.splitlines():
            line = line.strip()
            m = _NODE.match(line)
            if m:
                name, metrics = _parse_label(m.group(2))
                self.nodes[int(m.group(1))] = (name, m.group(3), metrics)
                continue
            m = _EDGE.match(line)
            if m:
                self.children[int(m.group(2))].append(int(m.group(1)))

    def metric_sum(self, metric: str) -> float:
        return sum(m.get(metric, 0.0) for _, _, m in self.nodes.values())

    def join_rows(self, pred) -> float:
        """Output rows of every join whose description satisfies ``pred``
        (called with the join's name and description)."""
        return sum(
            m.get("number of output rows", 0.0)
            for name, desc, m in self.nodes.values()
            if name in JOIN_NAMES and pred(name, desc)
        )

    def joins_below(self, alias: str) -> set[int]:
        """The nearest join under each projection that computes column
        ``alias``: the operator whose rows that column is evaluated on."""
        found = set()
        for i, (name, desc, _) in self.nodes.items():
            if name == "Project" and f" AS {alias}#" in desc:
                stack = list(self.children.get(i, ()))
                while stack:
                    j = stack.pop()
                    if self.nodes[j][0] in JOIN_NAMES:
                        found.add(j)
                        break
                    stack.extend(self.children.get(j, ()))
        return found

    def rows(self, ids: set[int]) -> float:
        return sum(self.nodes[i][2].get("number of output rows", 0.0) for i in ids)


def _parse_label(label: str) -> tuple[str, dict[str, float]]:
    parts = label.split("<br>")
    name = next(re.sub("</?b>", "", p) for p in parts if p.startswith("<b>"))
    metrics: dict[str, float] = {}
    pending = None
    for p in parts:
        if pending is not None:  # an aggregated metric's value line
            key, val, pending = pending, p, None
        elif p.endswith("(min, med, max (stageId: taskId))"):
            pending = p.split(" total (")[0]
            continue
        elif ": " in p and not p.startswith("<b>"):
            key, val = p.rsplit(": ", 1)
        else:
            continue
        try:
            metrics[key] = parse_metric(val)
        except (ValueError, KeyError, IndexError):
            pass  # not a number with a known unit: no counter reads it
    return name, metrics


class Span:
    """Timing handle for one call; untraced spans only time."""

    def __init__(self):
        self.driver_s = 0.0
        self.exec_s = 0.0
        self.rows_out = 0
        self.extra: dict[str, float] = {}
        self.plans: list[Plan] = []

    def call(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.driver_s += time.perf_counter() - t0
        return out

    def force(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.exec_s += time.perf_counter() - t0
        return out


class Tracer:
    """Accumulates per-span counters across calls; ``enabled=False`` makes
    every span a bare timer so the untraced loop pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.calls: dict[str, int] = defaultdict(int)
        #: seconds spent reading the status stores: the tracer's own cost
        self.overhead_s = 0.0
        self._seq = 0
        if enabled:
            jsc = self.sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, *, plans: bool = False):
        sp = Span()
        if not self.enabled:
            yield sp
            return
        self._seq += 1
        group = f"perfbench:{name}:{self._seq}"
        n_exec = self._sql.executionsCount()
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            self.sc.setJobGroup("perfbench:idle", "idle")
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty(60_000)
        tot = self.totals[name]
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            ids = self._store.job(j).stageIds().mkString(",")
            stages.update(int(s) for s in ids.split(",") if s)
        for s in stages:
            st = self._store.lastStageAttempt(s)
            if st.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if plans:
            execs = self._sql.executionsList(n_exec, 1 << 20)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                sp.plans.append(Plan(dot))
        tot["jobs"] += len(jobs)
        tot["driver_s"] += sp.driver_s
        tot["exec_s"] += sp.exec_s
        tot["rows_out"] += sp.rows_out
        for key, val in sp.extra.items():
            tot[key] += val
        self.calls[name] += 1
        self.overhead_s += time.perf_counter() - t0

    def add(self, name: str, key: str, value: float) -> None:
        """Credit a counter computed after the span closed (plan reads)."""
        if self.enabled:
            self.totals[name][key] += value

    def per_call(self, name: str, key: str) -> float:
        n = self.calls.get(name, 0)
        return self.totals[name][key] / n if n else 0.0


class RssSampler:
    """High-water resident memory of the driver JVM plus its descendant
    Python processes (the workers), sampled from /proc. Other descendants
    are short-lived helpers the JVM spawns; between spawn and exec they
    report the JVM's own resident pages, which would count it twice."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parents: dict[int, list[int]] = defaultdict(list)
        rss: dict[int, int] = {}
        python: set[int] = set()
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            fields = tail.split()
            pid = int(entry)
            parents[int(fields[1])].append(pid)
            rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
            if "python" in head.split("(", 1)[1]:
                python.add(pid)
        total, stack = rss.get(self.root, 0), [self.root]
        while stack:
            pid = stack.pop()
            for child in parents.get(pid, ()):
                total += rss[child] if child in python else 0
                stack.append(child)
        self.peak_bytes = max(self.peak_bytes, total)
