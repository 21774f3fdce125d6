"""Spans, Spark status-store attribution and process sampling.

A :class:`Tracer` records spans (name, start, end, parent, run id) in
memory around the benchmark's own calls into the engine's layers. Spark's
jobs, stages and SQL executions are read from the driver's
``AppStatusStore`` / ``SQLAppStatusStore`` after each op and attributed to
the innermost span whose window holds their submission time: a job group
does not follow work into the streaming micro-batch thread, a time window
does. Nothing here runs inside a timed op except ``Span`` bookkeeping.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    op: int = -1
    id: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the union of the intervals
    its direct children cover (clipped to the parent's own window)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op
    so the untraced run pays nothing but an attribute check."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.op = -1

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(name, time.time(), parent=parent, run_id=self.run_id,
                     op=self.op, id=sid)
            )
        stack.append(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid].end = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def span(self, name: str, parent: int | None = None):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sid = tracer.begin(name, parent)
                return self.sid

            def __exit__(self, *exc):
                tracer.end(self.sid)
                return False

        return _Ctx()

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [dict(vars(s), self_s=st[s.id]) for s in self.spans], f, indent=0
            )


# ---------------------------------------------------------------- status store

_UNIT_S = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQLMetric string: the total on the line after
    ``total (min, med, max ...)`` when present, else the whole string.
    Timings come back in seconds, sizes in bytes, counts as numbers."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_S:
        return v * _UNIT_S[unit]
    if unit in _UNIT_B:
        return v * _UNIT_B[unit]
    return v


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


#: SQL metric names summed per op (Spark 4.1 names)
SQL_METRICS = {
    "time to run Python workers": "python_worker_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_b",
    "number of files read": "files_read",
}


class StatusReader:
    """Incremental reader over the driver's status stores: each call to
    :meth:`new_since` returns the jobs (with their stages) and SQL
    executions submitted after the previous call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = self._jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._no_q = sc._gateway.new_array(self._jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._seen_exec = -1
        self.new_since()  # skip everything before the first op

    def new_since(self) -> tuple[list[dict], dict[int, dict], list[dict]]:
        jobs = [
            j for j in json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
            if j["jobId"] not in self._seen_jobs and j["status"] != "RUNNING"
        ]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stages: dict[int, dict] = {}
        if jobs:
            wanted = {s for j in jobs for s in j["stageIds"]}
            raw = self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_q, None)
            )
            for s in json.loads(raw):
                if s["stageId"] in wanted:
                    # keep the latest attempt per stage
                    prev = stages.get(s["stageId"])
                    if prev is None or s["attemptId"] > prev["attemptId"]:
                        stages[s["stageId"]] = s
        for j in jobs:
            j["t"] = _epoch(j.get("submissionTime")) or 0.0
        execs = []
        n = self._sql.executionsCount()
        if n:
            lst = self._sql.executionsList(0, int(n))
            for i in range(lst.size()):
                e = lst.apply(i)
                eid = e.executionId()
                if eid <= self._seen_exec or e.completionTime().isEmpty():
                    continue
                names = {}
                ms = e.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() in SQL_METRICS:
                        names[m.accumulatorId()] = SQL_METRICS[m.name()]
                vals = {v: 0.0 for v in SQL_METRICS.values()}
                if names:
                    mv = self._sql.executionMetrics(eid)
                    for acc, key in names.items():
                        s = mv.get(acc)
                        if not s.isEmpty():
                            vals[key] += parse_sql_metric(s.get())
                execs.append({"id": eid, "t": e.submissionTime() / 1000.0, **vals})
                self._seen_exec = max(self._seen_exec, eid)
        return jobs, stages, execs

    def storage_bytes(self) -> int:
        """Bytes held by persisted RDDs/DataFrames right now."""
        infos = self._store.rddList(True)
        return sum(infos.apply(i).memoryUsed() + infos.apply(i).diskUsed()
                   for i in range(infos.size()))


def attribute(spans: list[Span], t: float, op: int) -> Span | None:
    """Innermost span of ``op`` whose [start, end] holds time ``t``."""
    best = None
    for s in spans:
        if s.op == op and s.start <= t <= (s.end or float("inf")):
            if best is None or s.start >= best.start:
                best = s
    return best


# ---------------------------------------------------------------- processes


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_bytes(pid: int) -> int:
    """Summed VmHWM (peak resident set) of a process and its live
    descendants, from /proc/<pid>/status. Read once, at the end of a
    window, so nothing polls /proc while ops run."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total


def cpu_seconds(pid: int) -> float:
    """utime + stime of one process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Sampler(threading.Thread):
    """Samples persisted-data bytes (``storage()``) every ``period`` s and
    keeps the peak."""

    def __init__(self, storage, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.storage = storage
        self.peak_storage = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        self.peak_storage = max(self.peak_storage, self.storage())

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()
