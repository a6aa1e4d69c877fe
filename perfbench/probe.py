"""Outside-in measurement: in-memory spans, the Spark UI REST API, the
Spark metrics servlet, the codegen log and process-tree memory.

Nothing here reaches inside the library: every number comes from the
benchmark's own clocks around public calls, or from what Spark itself
publishes for a job group.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans (name, op, parent, start, end) and counts kept in memory,
    written out once at the end. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, op: str | None, name: str, value) -> None:
        if self.enabled:
            self.counts.append({"op": op, "name": name, "value": value})

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by its
        direct children (children of one span never overlap: ops are
        sequential)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, meta: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": spans, "counts": self.counts,
                       "self_s": self.self_times()}, fh, indent=1)


# ---------------------------------------------------------------- REST

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "KB": 1e3, "MB": 1e6, "GB": 1e9}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _metric_total(text: str) -> float:
    """First number of a SQL-UI metric string, scaled to base units
    (bytes, seconds). Aggregated metrics read "total (min, med, max
    (stageId: taskId))\\n12.3 s (...)"; plain ones read "1,234"."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkProbe:
    """Per-job-group numbers from the UI REST API and /metrics/json."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.ui = sc.uiWebUrl.rstrip("/")
        self.api = f"{self.ui}/api/v1/applications/{sc.applicationId}"

    def jobs(self, groups: set[str], timeout: float = 20.0) -> list[dict]:
        """Jobs of the given groups, once none is still running (the
        status store is updated asynchronously after an action)."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in _get(f"{self.api}/jobs")
                    if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def stages(self, jobs: list[dict]) -> list[dict]:
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in _get(f"{self.api}/stages/{sid}"):
                if att["status"] == "COMPLETE":
                    out.append(att)
        return out

    def task_skew(self, stage: dict) -> float:
        q = _get(f"{self.api}/stages/{stage['stageId']}/{stage['attemptId']}"
                 "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def executions(self, job_ids: set[int], timeout: float = 20.0) -> list[dict]:
        deadline = time.time() + timeout
        while True:
            execs = [e for e in _get(f"{self.api}/sql?details=true"
                                     "&planDescription=false&length=100000")
                     if job_ids & set(e.get("successJobIds", [])
                                      + e.get("failedJobIds", [])
                                      + e.get("runningJobIds", []))]
            if all(e["status"] != "RUNNING" for e in execs) or time.time() > deadline:
                return execs
            time.sleep(0.05)

    def codegen(self) -> dict:
        """Cumulative CodeGenerator histogram counts from Spark's metrics
        servlet."""
        hist = _get(f"{self.ui}/metrics/json").get("histograms", {})
        for name, h in hist.items():
            if name.endswith("CodeGenerator.compilationTime"):
                return {"compiles": h["count"]}
        return {"compiles": 0}


def exec_metrics(probe: SparkProbe, jobs: list[dict]) -> dict:
    """Executor-side sums over every completed stage of ``jobs``."""
    stages = probe.stages(jobs)
    m = {"exec.stages": len(stages),
         "exec.tasks": sum(s["numCompleteTasks"] for s in stages),
         "exec.task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
         "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
         "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
         "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
         "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 1e6,
         "exec.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6}
    if stages:
        def wall(s):
            return _ts(s.get("completionTime")) - _ts(s.get("firstTaskLaunchedTime")
                                                     or s.get("submissionTime"))
        m["exec.task_skew"] = probe.task_skew(max(stages, key=wall))
    else:
        m["exec.task_skew"] = 1.0
    return m


def _ts(s: str | None) -> float:
    """REST timestamps look like 2026-01-01T00:00:00.123GMT."""
    if not s:
        return 0.0
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", ""),
                                "%Y-%m-%dT%H:%M:%S.%f").timestamp()


PYTHON_NODE = re.compile(r"Python|InPandas|ArrowEval", re.I)
JOIN_NODE = re.compile(r"Join", re.I)


def sql_metrics(execs: list[dict]) -> dict:
    """Exchange and Python node counts of the executed (final adaptive)
    plans, Python exec node counters and the largest join output, from
    the SQL executions of one op."""
    m = {"kernels.python_run_s": 0.0, "kernels.python_start_s": 0.0,
         "kernels.mb_to_python": 0.0, "kernels.rows_from_python": 0.0,
         "max_join_rows": 0.0, "exchanges": 0, "python_nodes": 0}
    for e in execs:
        for node in e.get("nodes", []):
            metrics = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if "Exchange" in node["nodeName"]:
                m["exchanges"] += 1
            if PYTHON_NODE.search(node["nodeName"]):
                m["python_nodes"] += 1
                for name, val in metrics.items():
                    low = name.lower()
                    if "time to run python" in low or "time to execute python" in low:
                        m["kernels.python_run_s"] += _metric_total(val)
                    elif "time to start python" in low:
                        m["kernels.python_start_s"] += _metric_total(val)
                    elif "data sent to python" in low:
                        m["kernels.mb_to_python"] += _metric_total(val) / 1e6
                    elif "number of output rows" in low or "rows returned from python" in low:
                        m["kernels.rows_from_python"] += _metric_total(val)
            if JOIN_NODE.search(node["nodeName"]):
                rows = metrics.get("number of output rows")
                if rows is not None:
                    m["max_join_rows"] = max(m["max_join_rows"], _metric_total(rows))
    return m


def plan_shape(df) -> dict:
    """Optimize the plan (time to executedPlan) and note whether the
    strategy router took the row-chunked route (its rank column)."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"plan.optimize_s": time.perf_counter() - t0,
            "chunked": "_pts_rn0" in plan}


class CodegenLog:
    """Counts codegen compile times and fallbacks from the log file the
    benchmark's log4j2 config writes (janino "grows beyond 64 KB" and
    whole-stage fallbacks)."""

    FALLBACK = re.compile(r"grows beyond 64 KB|Whole-stage codegen disabled|"
                          r"failed to compile", re.I)
    GENERATED = re.compile(r"Code generated in ([0-9.]+) ms")

    def __init__(self, path: str):
        self.path = path
        self.pos = 0

    def read(self) -> dict:
        """Counters for the lines written since the previous read."""
        out = {"codegen.fallbacks": 0, "codegen.compile_s": 0.0}
        if not os.path.exists(self.path):
            return out
        with open(self.path, errors="replace") as fh:
            fh.seek(self.pos)
            text = fh.read()
            self.pos = fh.tell()
        for line in text.splitlines():
            if self.FALLBACK.search(line):
                out["codegen.fallbacks"] += 1
            m = self.GENERATED.search(line)
            if m:
                out["codegen.compile_s"] += float(m.group(1)) / 1e3
        return out


# ---------------------------------------------------------------- memory

def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of peak resident memory (VmHWM) over the benchmark process and
    every descendant: the Spark JVM and the Python workers it forks."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def quantile_tail(values: list[float], min_beyond: int = 10):
    """(percentile, value, n) for the highest percentile with at least
    ``min_beyond`` samples beyond it, or None when the sample is too
    small."""
    n = len(values)
    if n < 2 * min_beyond:
        return None
    srt = sorted(values)
    idx = n - min_beyond - 1
    return (round(100.0 * (idx + 1) / n, 1), srt[idx], n)

