"""Measurement from outside the engine package.

- ``tree_cpu_s``: CPU seconds of a process tree read from ``/proc``.
- ``SparkStatus``: Spark's status store (jobs, stages, tasks, storage)
  and the SQL REST per-node metrics, read over the driver UI's REST API.
- ``Tracer``: spans held in memory, one per call into a layer, each
  tagging the Spark jobs it starts with its own job group.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after "(comm) ") of a ``/proc/.../stat`` file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """(children by pid, cpu ticks by pid, command line by pid) of live processes."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    cmd: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            rest = _stat(f"/proc/{name}/stat")[1]
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd[int(name)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # exited while we listed /proc
            continue
        # fields: state ppid ... utime stime cutime cstime
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])
    return children, ticks, cmd


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot JIT compiler threads of ``pid`` (0
    unless it is a JVM)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            comm, rest = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in comm:  # "C1 CompilerThre", "C2 CompilerThre"
            total += int(rest[11]) + int(rest[12])
    return total


def tree_cpu_s(root: int | None = None) -> tuple[float, float, float]:
    """CPU seconds used so far by ``root``'s process tree, by the
    PySpark worker daemons inside it, and by the JVM's JIT compiler
    threads inside it.

    Each live process counts its own time plus the time of children it
    has reaped (``cutime``/``cstime``), so a worker that exits moves its
    time to its parent instead of dropping out of the sum: the total
    never goes backwards while every reaper lives in the tree. The JIT
    count is whole only while compiler threads never exit, which
    ``-XX:-UseDynamicNumberOfCompilerThreads`` ensures.
    """
    children, ticks, cmd = _proc_table()
    total = py = jit = 0
    stack = [(root or os.getpid(), False)]
    while stack:
        pid, in_daemon = stack.pop()
        in_daemon = in_daemon or "pyspark.daemon" in cmd.get(pid, "")
        total += ticks.get(pid, 0)
        py += ticks.get(pid, 0) if in_daemon else 0
        jit += 0 if in_daemon else _jit_ticks(pid)
        stack.extend((c, in_daemon) for c in children.get(pid, ()))
    return total / _TICK, py / _TICK, jit / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over all
    CPUs since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def self_cpu_s() -> float:
    """CPU seconds of this (driver) process alone, all threads."""
    t = os.times()
    return t.user + t.system


def preagg_state(root: str) -> tuple[int, int]:
    """(generations, bytes on disk) of the pre-agg state directories
    (``omldb_lw_*/state``) the engine created under ``root``."""
    gens = size = 0
    for d in os.listdir(root):
        state = os.path.join(root, d, "state")
        if not (d.startswith("omldb_lw_") and os.path.isdir(state)):
            continue
        gens += sum(name.startswith("gen=") for name in os.listdir(state))
        for dirpath, _, files in os.walk(state):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return gens, size


# ---------------------------------------------------------------------------
# Spark status store + SQL REST
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string to base units (rows, seconds, bytes).

    Aggregated metrics read ``total (min, med, max ...)\\n12.3 s (...)``;
    plain ones read ``1,234``.
    """
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _epoch_s(stamp: str) -> float:
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Reads one application's status store through the UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.get("/jobs") if j.get("jobGroup") in groups]

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self.get("/stages") if s["stageId"] in stage_ids]

    def task_intervals(self, stage: dict) -> list[tuple[float, float]]:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         f"/taskList?length=1000000")
        out = []
        for t in tasks:
            if "launchTime" in t and "duration" in t:
                start = _epoch_s(t["launchTime"])
                out.append((start, start + t["duration"] / 1000.0))
        return out

    def sql_nodes(self, job_ids: set[int]) -> list[dict]:
        """Plan nodes of the SQL executions that ran any of ``job_ids``."""
        nodes = []
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) \
                | set(ex.get("runningJobIds", []))
            if ran & job_ids:
                nodes.extend(ex.get("nodes", []))
        return nodes

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self.get("/storage/rdd"))


def _node_metric(node: dict, name: str) -> float:
    return sum(metric_value(m["value"]) for m in node.get("metrics", [])
               if m["name"] == name)


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def op_summary(status: SparkStatus, groups: set[str]) -> dict:
    """Jobs, stages run and peak execution memory (MB) of the work tagged
    with ``groups``. The peak is over those stages only, not the
    application's running max; Spark reports a stage's peak as the sum
    of its tasks' peaks."""
    jobs = status.jobs(groups)
    stages = [s for s in status.stages({s for j in jobs for s in j["stageIds"]})
              if s["status"] != "SKIPPED"]
    return {"peak_mb": max((s.get("peakExecutionMemory", 0) for s in stages), default=0) / 1e6,
            "jobs": len(jobs), "stages": len(stages),
            "jobs_by_span": dict(Counter(j.get("description", "") for j in jobs))}


def layer_metrics(status: SparkStatus, groups: set[str], wall: tuple[float, float]) -> dict:
    """Per-layer counters for the Spark work tagged with ``groups``."""
    jobs = status.jobs(groups)
    job_ids = {j["jobId"] for j in jobs}
    stages = [s for s in status.stages({s for j in jobs for s in j["stageIds"]})
              if s["status"] != "SKIPPED"]
    nodes = status.sql_nodes(job_ids)

    def ssum(key: str) -> float:
        return float(sum(s.get(key, 0) for s in stages))

    py_nodes = [n for n in nodes if "InPandas" in n["nodeName"] or "InArrow" in n["nodeName"]
                or "ArrowEvalPython" in n["nodeName"]]
    py_stage_ids = {int(m) for n in py_nodes for mt in n.get("metrics", [])
                    for m in re.findall(r"stage (\d+)\.", mt["value"])}
    scans = [n for n in nodes if n["nodeName"].startswith("Scan parquet")]
    intervals = [iv for s in stages for iv in status.task_intervals(s)]
    return {
        "kernel.rows_in": float(sum(s.get("shuffleReadRecords", 0) for s in stages
                                    if s["stageId"] in py_stage_ids)),
        "kernel.mb_to_py": sum(_node_metric(n, "data sent to Python workers")
                               for n in py_nodes) / 1e6,
        "kernel.mb_from_py": sum(_node_metric(n, "data returned from Python workers")
                                 for n in py_nodes) / 1e6,
        "kernel.task_s": sum(s.get("executorRunTime", 0) for s in stages
                             if s["stageId"] in py_stage_ids) / 1e3,
        "exchange.count": float(sum(1 for n in nodes if n["nodeName"] == "Exchange")),
        "exchange.write_mb": ssum("shuffleWriteBytes") / 1e6,
        "exchange.read_mb": ssum("shuffleReadBytes") / 1e6,
        "exchange.fetch_wait_s": ssum("shuffleFetchWaitTime") / 1e3,
        "jvm.task_s": ssum("executorRunTime") / 1e3,
        "jvm.cpu_s": ssum("executorCpuTime") / 1e9,
        "jvm.gc_s": ssum("jvmGcTime") / 1e3,
        "jvm.sort_s": sum(_node_metric(n, "sort time") for n in nodes),
        "jvm.spill_mb": ssum("diskBytesSpilled") / 1e6,
        "scan.rows": sum(_node_metric(n, "number of output rows") for n in scans),
        "scan.mb": sum(_node_metric(n, "size of files read") for n in scans) / 1e6,
        "scan.s": sum(_node_metric(n, "scan time") for n in scans),
        "sched.jobs": float(len(jobs)),
        "sched.stages": float(len(stages)),
        "sched.tasks": ssum("numCompleteTasks"),
        "sched.idle_s": (wall[1] - wall[0]) - _union_len(intervals, *wall),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine's layers.

    Each span sets its own Spark job group, so the jobs a call starts
    can be read back from the status store by span. With ``enabled``
    off a span only sets the job group of the operation it belongs to.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        if not self.enabled and parent is not None:
            yield None
            return
        self._next += 1
        sp = {"id": self._next, "name": name, "parent": parent["id"] if parent else None,
              "group": f"pb-{self._next}-{name}", "attrs": attrs}
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def groups(self, root: dict) -> set[str]:
        """Job groups of ``root`` and every span under it."""
        ids = {root["id"]}
        for sp in sorted(self.spans, key=lambda s: s["id"]):
            if sp["parent"] in ids:
                ids.add(sp["id"])
        return {sp["group"] for sp in self.spans if sp["id"] in ids} | {root["group"]}

    def children(self, root: dict, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["parent"] == root["id"] and sp["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
