"""Spark's own counters, read from outside the program, plus host noise.

`StatusStore` reads finished SQL executions from the JVM status store
(`sharedState().statusStore()`): the plan graph's node metrics joined to
their formatted values (`executionMetrics`), and the task metrics of each
execution's stages.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

# formatted-string units -> (seconds | bytes) per unit
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                 "memoryBytesSpilled", "diskBytesSpilled", "shuffleReadBytes",
                 "shuffleWriteBytes", "inputBytes", "numCompleteTasks")


def parse_metric_string(s: str) -> float:
    """A status-store metric string -> its total in base units (s, bytes,
    count). Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'.
    Average metrics have no total, '(min, med, max ...):\\n(<min>, <med>,
    <max> (...))'; they give their median."""
    if "\n" in s:
        head, s = s.split("\n", 1)
        if head.startswith("("):
            s = s[1:].split(", ")[1]
    s = s.split(" (", 1)[0].strip()
    num, _, unit = s.partition(" ")
    v = float(num.replace(",", ""))
    if unit in _TIME_UNITS:
        return v * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return v * _SIZE_UNITS[unit]
    return v


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Execution:
    id: int
    wall_s: float
    nodes: list[Node]
    stages: dict[str, float]

    def find(self, name_prefix: str, desc_part: str = "") -> list[Node]:
        return [n for n in self.nodes if n.name.startswith(name_prefix)
                and desc_part in n.desc]


def metric(execs: list[Execution], name_prefix: str, name: str,
           desc_part: str = "") -> float:
    """Sum of one node metric over the plan nodes whose name starts with
    name_prefix and whose description contains desc_part."""
    return sum(n.metrics.get(name, 0.0) for e in execs
               for n in e.find(name_prefix, desc_part))


class StatusStore:
    """Reads the SQL executions a session finished, in order, once each."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jsc = spark.sparkContext._jsc.sc()
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen = self._last_id()

    def _last_id(self) -> int:
        ex = self._sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def skip(self) -> None:
        """Forget executions so far (e.g. the checks run after a pass)."""
        self._bus.waitUntilEmpty(30_000)
        self._seen = self._last_id()

    def drain(self) -> list[Execution]:
        """Executions finished since the last drain/skip, oldest first."""
        self._bus.waitUntilEmpty(30_000)
        ex = self._sql.executionsList()
        new = sorted((e for e in (ex.apply(i) for i in range(ex.size()))
                      if e.executionId() > self._seen),
                     key=lambda e: e.executionId())
        out = [self._read(e) for e in new]
        if new:
            self._seen = new[-1].executionId()
        return out

    def _read(self, e) -> Execution:
        eid = e.executionId()
        done = e.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else None
        wall = (end_ms - e.submissionTime()) / 1e3 if end_ms else 0.0
        nodes = self._nodes(eid)
        stages = dict.fromkeys(_STAGE_FIELDS, 0.0)
        sids = e.stages().toList()
        for k in range(sids.size()):
            sd = self._app.lastStageAttempt(sids.apply(k))
            for f in _STAGE_FIELDS:
                stages[f] += getattr(sd, f)()
        return Execution(eid, wall, nodes, stages)

    def _nodes(self, eid: int) -> list[Node]:
        strings = {}
        it = self._sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            strings[kv._1()] = kv._2()
        graph = self._sql.planGraph(eid).allNodes()
        out = []
        for i in range(graph.size()):
            nd = graph.apply(i)
            ms = nd.metrics()
            vals = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.accumulatorId() in strings:
                    vals[m.name()] = parse_metric_string(
                        strings[m.accumulatorId()])
            out.append(Node(nd.name(), nd.desc(), vals))
        return out


def engine_totals(execs: list[Execution]) -> dict[str, float]:
    """Per-pass engine counters summed over the pass's executions."""
    tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
    for e in execs:
        for k, v in e.stages.items():
            tot[k] += v
    return {"engine.task_cpu_s": tot["executorCpuTime"] / 1e9,
            "engine.gc_s": tot["jvmGcTime"] / 1e3,
            "engine.spill_bytes": tot["memoryBytesSpilled"]
            + tot["diskBytesSpilled"],
            "engine.shuffle_read_bytes": tot["shuffleReadBytes"],
            "engine.tasks": tot["numCompleteTasks"]}


# --- host ---------------------------------------------------------------------

def cpu_ticks() -> dict[str, int]:
    """Cumulative user and steal ticks of the whole host (/proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return {"user": int(parts[1]), "steal": int(parts[8])}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> list[int]:
    kids, todo, out = _children(), [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (prctl
    PR_SET_CHILD_SUBREAPER): a Python worker whose daemon exits is then
    re-parented here instead of to init, so reap_children can wait for it."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout: float) -> None:
    """Wait until this process has no child left, reaping each; kill what
    still runs after `timeout`. With become_subreaper this covers every
    descendant, orphaned ones included."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children().get(os.getpid(), []):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def peak_rss_mb(root_pid: int, with_children: bool = True) -> float:
    """Sum of peak resident sets of a process and all its descendants (the
    JVM and the Python workers it forked), or of the process alone."""
    pids = descendants(root_pid) if with_children else [root_pid]
    return sum(_hwm_kb(p) for p in pids) / 1024


_REF_ROWS = 50_000_000


def reference_leg(spark, cpus: int) -> float:
    """Best-of-3 wall of a fixed pure-JVM job no program code touches
    (range -> xxhash64 -> sum), so host speed drift can be told apart from
    program changes. The frame is rebuilt for every run: re-collecting one
    frame reuses its finished shuffle stage."""
    from pyspark.sql import functions as F

    def run() -> float:
        df = (spark.range(0, _REF_ROWS, 1, 4 * cpus)
              .select(F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"))
              .agg(F.sum("h")))
        t0 = time.perf_counter()
        df.collect()
        return time.perf_counter() - t0

    run()
    return min(run() for _ in range(3))


def steal_ratio(before: dict[str, int], after: dict[str, int]) -> float:
    user = after["user"] - before["user"]
    return (after["steal"] - before["steal"]) / max(user, 1)

