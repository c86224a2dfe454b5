"""Tracing for the benchmark's traced runs.

Spans are recorded from outside the engine: the benchmark wraps the public
functions it measures and opens a span around each call. Every span that
runs Spark code sets the Spark job group to its own id, so the jobs Spark
logs in its event log can be attributed to the span (and so to its query
or phase) after the run. Spans stay in memory and are written out at the
end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from typing import Any, Iterator


class Tracer:
    """Parent-linked wall-clock spans, with the Spark job group kept in step."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext, set once a session exists

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs: Any) -> int:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec["id"]

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group_id(span_id), self.spans[span_id]["name"])

    def wrap(self, module: Any, attr: str, span_name: str) -> None:
        """Time every call of `module.attr`, in every module that imported it.

        `from m import f` binds `f` in the importing module too, so the
        wrapper replaces each binding that is the original function object."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(span_name, args=[a for a in args if isinstance(a, (str, int))]):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)

    def children(self, span_id: int) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict[str, Any]) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_end = 0.0, span["start"]
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return span["end"] - span["start"] - covered

    def descendants(self, span_id: int) -> list[dict[str, Any]]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{**s, "self": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


def group_id(span_id: int) -> str:
    return f"span-{span_id}"


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith("span-"):
        return int(group[5:])
    return None


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of one application, in write order, from Spark 4's
    rolling layout: `eventlog_v2_<app>/events_<n>_<app>` (plus an
    `appstatus_` marker). The traced run turns rolling on explicitly."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    for p in files:
        if p.rsplit(".", 1)[-1] in ("lz4", "lzf", "snappy", "zstd"):
            raise ValueError(f"compressed event log {p}: set spark.eventLog.compress=false")
    return files


def read_events(files: list[str]) -> Iterator[dict[str, Any]]:
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
         "input_rows": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "spill_bytes": 0}


def job_metrics(events: Iterator[dict[str, Any]]) -> dict[int, dict[str, Any]]:
    """Per Spark job: its job group and streaming batch id, and the stage
    and task metrics of the stages it ran.

    A stage listed by several jobs runs its tasks once, in the first job
    that lists it, so tasks are charged to that job."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            jid = ev["Job ID"]
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "batch_id": int(batch) if batch is not None else None,
                         **_ZERO, "jobs": 1}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            j["gc_ms"] += m.get("JVM GC Time", 0)
            # rows, not "Bytes Read": Spark 4's parquet reader reports only the
            # footer bytes there (2.4 kB for a full scan of a 1 MB file)
            j["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def sum_jobs(jobs: list[dict[str, Any]]) -> dict[str, float]:
    out = dict(_ZERO)
    for j in jobs:
        for k in _ZERO:
            out[k] += j[k]
    return out


def spark_layer(total: dict[str, float], per: float, table_rows: float) -> dict[str, float]:
    """The `spark.*` per-layer metrics from summed job metrics, divided by
    `per` (passes or triggers). `table_rows` is the row count of the tables
    the measured work loaded, for the repeated-scan ratio."""
    run = total["run_ms"]
    return {
        "spark.jobs": total["jobs"] / per,
        "spark.stages": total["stages"] / per,
        "spark.tasks": total["tasks"] / per,
        "spark.executor_run_ms": run / per,
        "spark.executor_cpu_ms": total["cpu_ms"] / per,
        "spark.cpu_per_run": total["cpu_ms"] / run if run else 0.0,
        "spark.gc_ms": total["gc_ms"] / per,
        "spark.input_rows": total["input_rows"] / per,
        "spark.input_per_table_row": total["input_rows"] / table_rows if table_rows else 0.0,
        "spark.shuffle_read_bytes": total["shuffle_read_bytes"] / per,
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"] / per,
        "spark.spill_bytes": total["spill_bytes"] / per,
    }


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])
