"""Spans, process-tree memory sampling and Spark event-log reading for
the engine benchmark.

Spans are recorded only by the benchmark's own code, around the calls it
makes into the engine.  A disabled ``Tracer`` hands out one shared no-op
span, so the untraced runs pay a method call per span and nothing else.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from enginebench.procs import proc_table, descendants


class _Span:
    __slots__ = ("tracer", "id", "parent", "name", "layer", "start", "end", "attrs")

    def __init__(self, tracer, sid, parent, name, layer, start=None, end=None):
        self.tracer = tracer
        self.id = sid
        self.parent = parent
        self.name = name
        self.layer = layer
        self.start = start
        self.end = end
        self.attrs = {}

    def __enter__(self):
        self.tracer._stack.append(self.id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.tracer._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "layer": self.layer, "start": self.start, "end": self.end,
                **({"attrs": self.attrs} if self.attrs else {})}


class _NoSpan:
    id = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans as JSON."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[_Span] = []
        self._stack: list[str] = []

    def span(self, name: str, layer: str | None = None):
        """Context manager for one span, a child of the innermost open
        span.  ``layer`` names the engine module the span's time is
        charged to (None for the benchmark's own structure)."""
        if not self.enabled:
            return _NO_SPAN
        sp = _Span(self, f"s{len(self.spans)}",
                   self._stack[-1] if self._stack else None, name, layer)
        self.spans.append(sp)
        return sp

    def add(self, name: str, layer: str, parent: str, start: float,
            end: float) -> str:
        """Record a finished span (stage spans read from the event log)."""
        sp = _Span(self, f"s{len(self.spans)}", parent, name, layer, start, end)
        self.spans.append(sp)
        return sp.id

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the union of
        its children's intervals (clipped to the span), summed by layer."""
        kids = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append((sp.start, sp.end))
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.layer is None or sp.end is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(sp.id, [])):
                s, e = max(s, sp.start), min(e, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.layer] += max(sp.seconds - covered, 0.0)
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": [s.as_dict() for s in self.spans]}, fh, indent=0)


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    parent, rss = proc_table()
    tree = descendants(root_pid, parent) | {root_pid}
    return sum(rss.get(p, 0) for p in tree) * page


class RssSampler:
    """Samples the RSS of this process tree (the driver, the JVM it
    launched and the JVM's Python workers) every ``interval`` seconds on
    a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid, self._page))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ------------------------------------------------------------ event log

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "rows returned from Python workers"


class EventLog:
    """Jobs, stages and summed task metrics from a Spark event log.

    ``jobs``: job id → {group, start, end};
    ``stages``: stage id → {job, name, start, end, runs (task ms), sums}."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # accumulator ids of "number of output rows" on Python-UDF plan
        # nodes (the ones that also count bytes sent to Python workers)
        self.py_row_ids: set[int] = set()
        stage_job: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        self._event(json.loads(line), stage_job)

    def _stage(self, sid: int, job: int | None) -> dict:
        return self.stages.setdefault(sid, {
            "job": job, "name": "", "start": None, "end": None,
            "runs": [], "sums": defaultdict(float)})

    def _event(self, ev: dict, stage_job: dict) -> None:
        kind = ev.get("Event", "")
        if kind.endswith(("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan(ev["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[jid] = {"group": group, "end": None,
                              "start": ev["Submission Time"] / 1e3}
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info:
                return  # skipped stage: its output was reused
            st = self._stage(info["Stage ID"], stage_job.get(info["Stage ID"]))
            st["name"] = info["Stage Name"]
            st["start"] = info["Submission Time"] / 1e3
            st["end"] = info["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = self._stage(sid, stage_job.get(sid))
            _task_metrics(ev, st, self.py_row_ids)

    def _plan(self, node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if PY_SENT in metrics and "number of output rows" in metrics:
            self.py_row_ids.add(metrics["number of output rows"])
        for child in node.get("children", []):
            self._plan(child)

    def group_of_stage(self, sid: int) -> str | None:
        job = self.jobs.get(self.stages[sid]["job"])
        return job["group"] if job else None

    def sums(self, groups: set[str]) -> dict[str, float]:
        """Task-metric sums over the stages of jobs in ``groups``, plus the
        run-time skew (max ÷ median task) of the heaviest stage."""
        out: dict[str, float] = defaultdict(float)
        heaviest: list[float] = []
        for sid, st in self.stages.items():
            if self.group_of_stage(sid) not in groups:
                continue
            for k, v in st["sums"].items():
                out[k] += v
            if sum(st["runs"]) > sum(heaviest):
                heaviest = st["runs"]
        srt = sorted(heaviest)
        out["task_skew"] = srt[-1] / max(srt[len(srt) // 2], 1.0) if srt else 1.0
        return dict(out)


def _task_metrics(ev: dict, st: dict, py_row_ids: set[int]) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    m = st["sums"]
    m["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        m["failed_tasks"] += 1
    run_ms = tm.get("Executor Run Time", 0)
    st["runs"].append(run_ms)
    m["run_ms"] += run_ms
    m["cpu_ns"] += tm.get("Executor CPU Time", 0)
    m["gc_ms"] += tm.get("JVM GC Time", 0)
    m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    m["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") in (PY_SENT, PY_RECV):
            m[acc["Name"]] += float(acc.get("Update") or 0)
        elif acc.get("ID") in py_row_ids:
            m[PY_ROWS] += float(acc.get("Update") or 0)
