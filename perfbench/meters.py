"""Measurement plumbing for the benchmark: spans, Spark metrics, host meters.

Everything here observes the engine from the outside.  Spans wrap the
benchmark's own calls into the engine's public functions; Spark's SQL node
and stage metrics come from the driver's local UI REST API, fetched once
after the measured window so the fetch never lands inside a timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.

    Disabled tracers record nothing, so the untraced run pays no span cost.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, op_ids=None) -> list[float]:
        """Durations of the spans called ``name`` (within ``op_ids``)."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and (op_ids is None or s["op"] in op_ids)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of its
        interval covered by its children (children never overlap here:
        the benchmark is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - child[i]
        return out


# ---------------------------------------------------------------------------
# host meters
# ---------------------------------------------------------------------------

def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class StealMeter:
    """Hypervisor steal share of all CPU time between start() and stop().
    A diagnostic recorded next to the metrics; it never changes what is
    measured or how often."""

    def start(self) -> None:
        self._t0, self._s0 = _cpu_jiffies()

    def stop(self) -> float:
        t1, s1 = _cpu_jiffies()
        return 100.0 * (s1 - self._s0) / max(t1 - self._t0, 1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rfind(")") + 2:].split()
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants.  Time the
    hypervisor steals from the VM is not in it, unlike wall time."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(pid)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _resident_kb(pid: int) -> int:
    """Proportional resident size (Pss): pages shared between forked Python
    workers are split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver JVM
    and the Python workers it forks), in MB."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _resident_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's RSS from /proc on a background thread and
    keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        return False


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's collectors (local mode runs
    every task in this JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# Spark UI REST metrics
# ---------------------------------------------------------------------------

_SCALE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "": 1.0}
_NUM = re.compile(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string ('1,697', '5.3 MiB', '703 ms', or the
    'total (min, med, max ...)\\n<total> (...)' form) to bytes, seconds or a
    count.  Sizes are as precise as the UI prints them."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def ui_time(s: str | None) -> float | None:
    """Epoch seconds of a REST API timestamp ('2026-01-01T00:00:00.000GMT')."""
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


class SparkMetrics:
    """Per-operation view of the driver's UI REST API.  Operations are
    tagged with a Spark job group; jobs carry the group, SQL executions and
    stages are matched through the jobs' ids."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s
                       for s in self._get("/stages")}
        self.sql = self._get("/sql?details=true&planDescription=false"
                             "&offset=0&length=100000")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def op_jobs(self, op_id: str) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") == op_id]

    def op_stages(self, op_id: str) -> list[dict]:
        ids = {sid for j in self.op_jobs(op_id) for sid in j["stageIds"]}
        return [s for (sid, _a), s in self.stages.items()
                if sid in ids and s["status"] == "COMPLETE"]

    def op_executions(self, op_id: str) -> list[list[dict]]:
        """The node lists of the operation's SQL executions."""
        ids = {j["jobId"] for j in self.op_jobs(op_id)}
        return [e["nodes"] for e in self.sql
                if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                             + e.get("runningJobIds", []))]

    def exec_node_values(self, op_id: str, node: str,
                         metric: str) -> list[list[float]]:
        """Per execution, the values of ``metric`` on nodes named ``node``."""
        return [[metric_value(m["value"]) for n in nodes
                 if n["nodeName"] == node or n["nodeName"].startswith(node + " ")
                 for m in n["metrics"] if m["name"] == metric]
                for nodes in self.op_executions(op_id)]

    def node_values(self, op_id: str, node: str, metric: str) -> list[float]:
        return [v for vals in self.exec_node_values(op_id, node, metric)
                for v in vals]

    def node_sum(self, op_id: str, node: str, metric: str) -> float:
        return float(sum(self.node_values(op_id, node, metric)))

    def stage_sum(self, op_id: str, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.op_stages(op_id)))

    def job_union_s(self, op_id: str) -> float:
        """Length of the union of the operation's job intervals."""
        iv = sorted((ui_time(j["submissionTime"]), ui_time(j.get("completionTime")))
                    for j in self.op_jobs(op_id) if j.get("submissionTime"))
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            hi = hi if hi is not None else lo
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total

    def task_skew(self, op_id: str) -> float:
        """max / median task run time in the operation's largest stage."""
        stages = self.op_stages(op_id)
        if not stages:
            return 0.0
        big = max(stages, key=lambda s: s.get("executorRunTime", 0))
        q = self._get(f"/stages/{big['stageId']}/{big['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / max(med, 1.0)


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def environment(root: str, spark, cores: int, driver_mem: str) -> dict:
    """What a later comparison must match to be like-for-like."""
    import numpy
    import pyarrow
    import pyspark

    commit = "unknown"
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    ref = f.read().strip()
        commit = ref if len(ref) == 40 else "unknown"
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "cores": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "driver_memory": driver_mem,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "git_commit": commit,
    }
