"""Spans around the benchmark's calls into the program, and per-span
counts read back from the Spark UI REST API.

A span records name, parent, start and end in memory; when tracing is on
it also sets a Spark job group named after the span, so every Spark job
the span's calls start can be attributed to it afterwards. Nothing is
read from Spark while spans are open: the REST API (``/jobs``,
``/stages``, ``/sql``, ``/storage/rdd``) is read once the traced ops are
done, and the spans are written out when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import re
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass

MB = 1e6


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. With ``enabled`` false it only records
    times and never touches Spark."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"s{next(self._ids)}", name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, root: Span) -> set[str]:
        """Ids of ``root`` and every span below it."""
        ids = {root.id}
        for s in self.spans:  # children are always recorded after parents
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def _ts(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=dt.timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}


def parse_size(v: str) -> float:
    """Bytes from a Spark UI size string ('64.1 MiB', or the first value
    of a 'total (min, med, max)' block)."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", v)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def size_label(n: int) -> str:
    """Spark's ``Utils.bytesToString`` rendering of a byte count."""
    for unit in ("TiB", "GiB", "MiB", "KiB"):
        if n >= 2 * _UNITS[unit]:
            return f"{n / _UNITS[unit]:.1f} {unit}"
    return f"{n} B"


def _count(v: str) -> float:
    m = re.search(r"[\d,]+", v)
    return float(m.group(0).replace(",", "")) if m else 0.0


_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\n]*)")


def _rest_get(sc, path: str):
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def storage_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs right now."""
    return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
               for r in _rest_get(sc, "storage/rdd")) / MB


class SparkRest:
    """One snapshot of the application's jobs, stages and SQL
    executions, indexed by job group."""

    def __init__(self, sc):
        self.sc = sc
        self.jobs = self._get("jobs")
        self.job = {j["jobId"]: j for j in self.jobs}
        # a stage is charged to the first job that lists it; later jobs
        # that reuse its shuffle output only skip it
        self.stage_job: dict[int, int] = {}
        for j in sorted(self.jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                self.stage_job.setdefault(sid, j["jobId"])
        self.stages: dict[int, list[dict]] = defaultdict(list)
        for st in self._get("stages"):
            self.stages[st["stageId"]].append(st)
        self.sql = self._get("sql?details=true&planDescription=true&offset=0&length=100000")

    def _get(self, path: str):
        return _rest_get(self.sc, path)

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def executions_in(self, groups: set[str]) -> list[dict]:
        out = []
        for e in self.sql:
            ids = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
            if any(self.job.get(i, {}).get("jobGroup") in groups for i in ids):
                out.append(e)
        return out

    @staticmethod
    def write_path(execution: dict) -> str | None:
        m = _WRITE_PATH.search(execution["planDescription"])
        return m.group(1) if m else None

    def job_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Task-side counts over the stages these jobs ran."""
        ids = {j["jobId"] for j in jobs}
        t = defaultdict(float)
        t["jobs"] = len(jobs)
        for sid, jid in self.stage_job.items():
            if jid not in ids:
                continue
            for st in self.stages.get(sid, []):
                if st["status"] == "SKIPPED":
                    continue
                t["tasks"] += st["numCompleteTasks"]
                t["task_busy_s"] += st["executorRunTime"] / 1e3
                t["cpu_s"] += st["executorCpuTime"] / 1e9
                t["gc_s"] += st["jvmGcTime"] / 1e3
                t["input_rows"] += st["inputRecords"]
                t["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                t["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                t["spill_mb"] += st["diskBytesSpilled"] / MB
        return t

    @staticmethod
    def plan_totals(executions: list[dict], table_sizes: dict[str, str]) -> dict[str, float]:
        """Scan and broadcast counts from the executions' plan nodes.
        ``table_sizes`` maps a table name to the size label its file
        shows as 'size of files read'; scans of that file add to
        ``scan_rows.<table>``."""
        by_label = {v: k for k, v in table_sizes.items()}
        t = defaultdict(float)
        for e in executions:
            t["wall_s"] += e["duration"] / 1e3
            for n in e["nodes"]:
                m = {x["name"]: x["value"] for x in n["metrics"]}
                if n["nodeName"].startswith("Scan "):
                    rows = _count(m.get("number of output rows", "0"))
                    t["scan_rows"] += rows
                    t["scan_files"] += _count(m.get("number of files read", "0"))
                    table = by_label.get(m.get("size of files read", "").strip())
                    if table:
                        t[f"scan_rows.{table}"] += rows
                elif n["nodeName"] == "BroadcastExchange":
                    t["broadcast_mb"] += parse_size(m.get("data size", "")) / MB
        return t

    @staticmethod
    def busy_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
        """Union of the jobs' [submission, completion] intervals."""
        iv = sorted((_ts(j["submissionTime"]), _ts(j["completionTime"]))
                    for j in jobs if j.get("completionTime"))
        merged: list[list[float]] = []
        for a, b in iv:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        return [(a, b) for a, b in merged]
