"""Spans around calls into the engine's layers, and attribution of
Spark's own job and task counters (read back from the event log) to
those spans.

Every timed call in the benchmark runs inside :meth:`Tracer.span`, so
the end-to-end timings and the traced per-layer numbers come from the
same boundaries. Attribution is by time: a job belongs to the innermost
span that was open when the job was submitted, and a stage's tasks
belong to the first job that lists the stage. Time, not job group,
because threads the engine starts itself (its DV staging pool, for
one) do not inherit the caller's job group.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import time

def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Spark settings for a traced run: the event log as plain JSON
    lines, one file per application, written into ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


#: task accumulables (SQL metrics) of the Python-worker operators;
#: names as pyspark 4.1 reports them
_PY_ACCUMS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

COUNTERS = (
    "jobs",
    "tasks",
    "task_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_run_s",
    "python_bytes_sent",
    "python_bytes_returned",
)


class Tracer:
    """Records spans in memory; :meth:`dump` writes them out at the end.

    A span is a dict: ``id``, ``layer``, ``name``, ``parent`` (id or
    None), ``start``/``end`` (epoch seconds, comparable with the event
    log's clock), ``wall_s`` (monotonic duration), free-form ``attrs``
    and, after :meth:`attribute`, ``counters``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.time(),
            "end": None,
            "wall_s": None,
            "attrs": attrs,
            "counters": {},
        }
        self.spans.append(s)
        self._open.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s["wall_s"] = time.perf_counter() - t0
            s["end"] = time.time()
            self._open.pop()

    def attribute(self, log_dir: str) -> dict:
        """Add Spark counters from every event log under ``log_dir`` to
        the spans; returns totals of what no span claimed."""
        jobs, stage_job, tasks = _read_eventlogs(log_dir)
        ordered = sorted(self.spans, key=lambda s: s["start"])
        starts = [s["start"] for s in ordered]
        unclaimed = {c: 0.0 for c in COUNTERS}

        def owner(t: float) -> dict | None:
            # innermost = latest-starting span still open at t
            i = bisect.bisect_right(starts, t) - 1
            while i >= 0:
                s = ordered[i]
                if s["end"] is not None and s["end"] >= t:
                    return s
                i -= 1
            return None

        job_owner = {}
        for job_id, submitted in jobs.items():
            s = owner(submitted)
            job_owner[job_id] = s
            bucket = s["counters"] if s is not None else unclaimed
            bucket["jobs"] = bucket.get("jobs", 0.0) + 1
        for stage_id, metrics in tasks:
            s = job_owner.get(stage_job.get(stage_id))
            bucket = s["counters"] if s is not None else unclaimed
            for k, v in metrics.items():
                bucket[k] = bucket.get(k, 0.0) + v
        return unclaimed

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _read_eventlogs(log_dir: str):
    """(job id → submission epoch s, stage id → first job id, [(stage
    id, task counters)]) over every application's log in ``log_dir``.
    Ids are made unique across applications by prefixing the file."""
    jobs: dict[tuple, float] = {}
    stage_job: dict[tuple, tuple] = {}
    tasks: list[tuple] = []
    for n, path in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = (n, ev["Job ID"])
                    jobs[job] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((n, sid), job)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(((n, ev["Stage ID"]), _task_counters(ev)))
    return jobs, stage_job, tasks


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "tasks": 1.0,
        "task_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "input_bytes": float((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        "shuffle_read_bytes": float(
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ),
        "shuffle_write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": float(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is None:
            continue
        try:
            v = float(acc.get("Update", 0))
        except (TypeError, ValueError):
            continue
        # the run-time accumulable is a timing metric in milliseconds
        out[key] = out.get(key, 0.0) + (v / 1000.0 if key == "python_run_s" else v)
    return out
