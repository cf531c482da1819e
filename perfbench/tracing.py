"""Spans around calls into the engine's layers, and the event-log rollup.

Tracing is off in measurement runs.  A traced run installs wrappers around
the calls the engine makes on its own (``LakeTable.merge`` and
``compact_deltas``, and the schema-evolution operators); the benchmark's
own call sites wrap
``run_available_now``, ``lookup`` and ``assemble_corpus`` together with the
action that materialises them.  Every wrapper records a span
(name, start, end, parent, workload, thread) in memory and labels the Spark
jobs it submits ``acs:<workload>:<layer>:<call>`` through the job
description of the calling thread.  Spans are written when the run ends.

``rollup_event_log`` reads Spark's event log after the session stops and
attributes task time, CPU, GC, shuffle bytes, spill and task skew to the
layer named by each job's label.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

LABEL_PREFIX = "acs:"
_DESC = "spark.job.description"


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and set no
    job labels, so measurement runs pay only a function call per span."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # spans opened on one thread (run_available_now) are the parents of
        # spans the engine opens on the streaming callback thread
        self._ambient: list[int] = []
        self._sc = None
        self._patched: list[tuple[type, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, layer: str, call: str, ambient: bool = False):
        """Record ``layer.call`` around the body and label its Spark jobs."""
        if not self.enabled:
            yield {}
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            if stack:
                parent = stack[-1]
            elif self._ambient:
                parent = self._ambient[-1]
            else:
                parent = None
            rec = {
                "id": sid,
                "name": f"{layer}.{call}",
                "layer": layer,
                "parent": parent,
                "workload": self.workload,
                "thread": threading.current_thread().name,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
            if ambient:
                self._ambient.append(sid)
        stack.append(sid)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(_DESC)
            self._sc.setJobDescription(
                f"{LABEL_PREFIX}{self.workload}:{layer}:{call}"
            )
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if ambient:
                with self._lock:
                    self._ambient.remove(sid)
            if self._sc is not None:
                self._sc.setLocalProperty(_DESC, prev)

    def wrap_method(self, cls: type, name: str, layer: str) -> None:
        """Replace ``cls.name`` with a span-recording wrapper (traced runs
        only)."""
        if not self.enabled:
            return
        orig = getattr(cls, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return orig(*args, **kwargs)

        self._patched.append((cls, name, orig))
        setattr(cls, name, wrapper)

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------- event log


def _task_row(e: dict) -> dict | None:
    tm = e.get("Task Metrics")
    if not tm:
        return None
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    info = e["Task Info"]
    return {
        "stage": e["Stage ID"],
        "launch": info["Launch Time"] / 1000.0,
        "finish": info["Finish Time"] / 1000.0,
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "read_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        "read_records": sr.get("Total Records Read", 0),
        "write_bytes": sw.get("Shuffle Bytes Written", 0),
        "write_records": sw.get("Shuffle Records Written", 0),
        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "in_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs (id, label, submit, end, stages) and task rows from every event
    log file under ``log_dir`` (rolling logs keep one file per roll)."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    ) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    desc = props.get(_DESC) or ""
                    if not desc.startswith(LABEL_PREFIX) and props.get(
                        "sql.streaming.queryId"
                    ):
                        # jobs the streaming query submits outside any
                        # wrapped call carry the query's own batch label:
                        # batch resolve, the fused stats aggregation, JSON
                        # parse and discovery
                        desc = "streaming-query"
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "label": desc,
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(e.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    row = _task_row(e)
                    if row is not None:
                        tasks.append(row)
    stage_job: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        for s in j["stages"]:
            stage_job.setdefault(s, j["id"])
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return sorted(jobs.values(), key=lambda j: j["id"]), tasks


def layer_of(label: str) -> str | None:
    """``acs:<workload>:<layer>:<call>`` → layer; the streaming query's own
    batch label → ``streaming``; anything else is unattributed."""
    if label.startswith(LABEL_PREFIX):
        parts = label.split(":")
        return parts[2] if len(parts) >= 4 else None
    if label == "streaming-query":
        return "streaming"
    return None


def rollup_event_log(
    log_dir: str, workload: str, window: tuple[float, float], cores: int
) -> dict:
    """Per-layer Spark metrics from the event log.  ``window`` is the timed
    region (epoch seconds); busy fraction, CPU, GC and job/stage/task counts
    cover the jobs submitted inside it."""
    jobs, tasks = read_event_log(log_dir)
    by_job: dict[int, list[dict]] = {}
    for t in tasks:
        by_job.setdefault(t["job"], []).append(t)

    def busy(js) -> float:
        return sum(t["run_s"] for j in js for t in by_job.get(j["id"], []))

    attributed = busy([j for j in jobs if layer_of(j["label"])])
    total = busy(jobs)
    lo, hi = window
    timed = [j for j in jobs if lo <= j["submit"] <= hi]
    timed_tasks = [t for j in timed for t in by_job.get(j["id"], [])]
    merge_label = f"{LABEL_PREFIX}{workload}:lake:merge"
    merge_tasks = [
        t for j in timed if j["label"] == merge_label for t in by_job.get(j["id"], [])
    ]
    reduce_stages: dict[int, list[float]] = {}
    for t in merge_tasks:
        if t["read_records"] > 0:
            reduce_stages.setdefault(t["stage"], []).append(t["run_s"])
    skews = [
        max(v) / statistics.median(v)
        for v in reduce_stages.values()
        if len(v) > 1 and statistics.median(v) > 0
    ]
    corpus_label = f"{LABEL_PREFIX}{workload}:functions:assemble_corpus"
    corpus_tasks = [
        t for j in timed if j["label"] == corpus_label for t in by_job.get(j["id"], [])
    ]
    # the export's table scan: wall time of the corpus stages that read files
    scans: dict[int, list[dict]] = {}
    for t in corpus_tasks:
        if t["in_bytes"] > 0:
            scans.setdefault(t["stage"], []).append(t)
    read_s = sum(
        max(t["finish"] for t in ts) - min(t["launch"] for t in ts)
        for ts in scans.values()
    )
    lookup_label = f"{LABEL_PREFIX}{workload}:lake:lookup"
    lookup_jobs = [j for j in timed if j["label"] == lookup_label]
    lookup_bytes = sum(t["in_bytes"] for j in lookup_jobs for t in by_job.get(j["id"], []))
    stages = {t["stage"] for t in timed_tasks}
    return {
        "jobs": jobs,
        "spark.attributed_frac": attributed / total if total else 1.0,
        "spark.task_busy_frac": sum(t["run_s"] for t in timed_tasks)
        / max((hi - lo) * cores, 1e-9),
        "spark.cpu_s": sum(t["cpu_s"] for t in timed_tasks),
        "spark.gc_s": sum(t["gc_s"] for t in timed_tasks),
        "spark.jobs": len(timed),
        "spark.stages": len(stages),
        "spark.tasks": len(timed_tasks),
        "operators.reduce_shuffle_bytes": sum(t["read_bytes"] for t in merge_tasks),
        "operators.shuffle_records": sum(t["write_records"] for t in merge_tasks),
        "operators.spill_bytes": sum(t["spill"] for t in merge_tasks),
        "operators.reduce_task_skew": statistics.median(skews) if skews else 1.0,
        "functions.corpus_shuffle_bytes": sum(t["write_bytes"] for t in corpus_tasks),
        "lake.read_s": read_s,
        "lookup_input_bytes": lookup_bytes,
        "lookup_jobs": len(lookup_jobs),
    }


def job_time_inside(jobs: list[dict], label: str, lo: float, hi: float) -> float:
    """Wall time in [lo, hi] covered by jobs carrying ``label``."""
    return _covered(
        [(j["submit"], j["end"]) for j in jobs if j["label"] == label and j["end"]],
        lo,
        hi,
    )
