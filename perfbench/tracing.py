"""Traced-run instrumentation: spans around calls into the engine's
layers, a py4j round-trip counter, and the Spark event-log reader.

Spans are recorded only in the traced run. Wrappers replace module
attributes that the engine looks up at call time (for example
``append_batch`` in ``streaming.ingest`` and under the name
``streaming.decontam`` imported it as), so the engine itself is not
edited. Everything is kept in memory and summarized when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

import stats

# Event-log settings for the traced run: one plain-text JSON file.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
# Empty spans and counter increments timed to estimate the overhead.
CALIBRATION_N = 20_000


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._restore: list[tuple[object, str, object]] = []
        self.py4j_by_thread: dict[int, int] = {}

    # --- spans -----------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **tags):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "tags": tags,
            "start": time.time(),
            "py4j0": self.py4j_calls(),
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()
            sp["py4j"] = self.py4j_calls() - sp.pop("py4j0")
            with self._lock:
                self.spans.append(sp)

    def wrap(self, module, attr: str, name: str, tag_fn=None, on_return=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``tag_fn(args, kwargs)`` gives the span's tags; ``on_return(span,
        args, kwargs, result)`` may add measurements after the call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tags = tag_fn(args, kwargs) if tag_fn else {}
            with self.span(name, **tags) as sp:
                result = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(sp, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # --- py4j ------------------------------------------------------------
    def count_py4j(self, spark) -> None:
        """Count every py4j command this process sends, per thread."""
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        counts = self.py4j_by_thread

        def send_command(*args, **kwargs):
            tid = threading.get_ident()
            counts[tid] = counts.get(tid, 0) + 1  # only this thread writes its key
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._restore.append((client, "send_command", orig))

    def py4j_calls(self, thread: int | None = None) -> int:
        return self.py4j_by_thread.get(thread or threading.get_ident(), 0)

    def py4j_total(self) -> int:
        return sum(self.py4j_by_thread.values())

    # --- overhead --------------------------------------------------------
    def overhead_s(self) -> float:
        """Estimated instrumentation cost of this run: span count x the
        measured cost of one empty span, plus py4j calls x the measured
        cost of one counter increment."""
        n = CALIBRATION_N
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("_calibrate"):
                pass
        per_span = (time.perf_counter() - t0) / n
        with self._lock:
            self.spans = [s for s in self.spans if s["name"] != "_calibrate"]
        d: dict[int, int] = {}
        t0 = time.perf_counter()
        for _ in range(n):
            tid = threading.get_ident()
            d[tid] = d.get(tid, 0) + 1
        per_call = (time.perf_counter() - t0) / n
        return len(self.spans) * per_span + self.py4j_total() * per_call


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s QueryExecution, forcing
    its physical plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: float(phases.apply(k).durationMs())
        for k in ("analysis", "optimization", "planning")
        if phases.contains(k)
    }


# --- Spark event log ---------------------------------------------------------

def _acc(task_info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their group/description and stages) and per-stage
    task metrics from the one event-log file under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "desc": props.get("spark.job.description") or "",
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(e.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                st = stages.setdefault(e["Stage ID"], {
                    "tasks": [], "shuffle_write": 0, "shuffle_read": 0,
                    "spill": 0, "python_ms": 0.0,
                })
                st["tasks"].append(float(m.get("Executor Run Time") or 0))
                st["shuffle_write"] += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written") or 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += int(sr.get("Remote Bytes Read") or 0) + int(
                    sr.get("Local Bytes Read") or 0)
                st["spill"] += int(m.get("Disk Bytes Spilled") or 0)
                st["python_ms"] += _acc(info, "time to run Python workers")
    return {"jobs": jobs, "stages": stages}


def job_totals(log: dict, job_ids) -> dict:
    """Summed task metrics of the given jobs."""
    out = {"jobs": 0, "tasks": 0, "task_s": 0.0, "job_s": 0.0, "shuffle_write": 0,
           "shuffle_read": 0, "spill": 0, "python_s": 0.0, "skew": 0.0}
    for jid in job_ids:
        job = log["jobs"][jid]
        out["jobs"] += 1
        if job["end"] is not None:
            out["job_s"] += job["end"] - job["submit"]
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None:  # skipped stage: its output was reused
                continue
            out["tasks"] += len(st["tasks"])
            out["task_s"] += sum(st["tasks"]) / 1000.0
            out["shuffle_write"] += st["shuffle_write"]
            out["shuffle_read"] += st["shuffle_read"]
            out["spill"] += st["spill"]
            out["python_s"] += st["python_ms"] / 1000.0
            if len(st["tasks"]) >= 2:
                med = stats.percentile(st["tasks"], 50)
                if med > 0:
                    out["skew"] = max(out["skew"], max(st["tasks"]) / med)
    return out


def jobs_where(log: dict, pred) -> list[int]:
    return sorted(j for j, job in log["jobs"].items() if pred(job))
