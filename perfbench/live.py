"""`live_events`: the keyed-state streaming job fed by an open-loop generator.

`stateful.fix_is_new_flag_stream` (the new-visitor flag of BaseLogApp)
reads a parquet file stream and writes through
`sinks.idempotent_parquet_writer`, as a foreachBatch sink.

- Phase 1 drains a backlog written before the query starts, in batches of
  `FILES_PER_TRIGGER` files.
- Phase 2 starts the generator process (livegen.py), which writes one file
  per tick at `livegen.RATE` events/s for `--seconds`, a quarter or less of
  the job's catch-up capacity. The query triggers every `TRIGGER_MS`.
  Files due in its first `SETTLE_S` seconds are processed and checked but
  not measured, so the measured triggers run at a steady state. User ids
  come from `livegen.USERS` ids: some events come from returning users,
  and new users keep arriving, so state keeps growing.

Latency is measured per event, from its creation stamp (the due time of
its file) to the return of the writer call for the micro-batch that
carried it; the checkpoint's file-source log says which batch that was.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import livegen
import tracing
from livegen import TICK_MS
from tracing import median, percentile

FILES_PER_TRIGGER = 20
# A fixed trigger clock, well above the ~1 s a phase-2 trigger takes. With
# back-to-back triggers a slow trigger makes the next batch larger and so
# slower, which amplified host noise into the latency (run-to-run CV
# 11-16 %, against under 2 % with this clock). Catch-up batches take
# longer than the interval, so phase 1 still runs back to back.
TRIGGER_MS = 1500
BACKLOG_FILES = 60
BACKLOG_FILE_EVENTS = 50
WARMUP_FILES = 4
SETTLE_S = 5  # the first seconds of phase 2 are fed but not measured
WAIT_S = 60  # bound on every wait for the streaming query
SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"
# per-layer metrics it must report
LAYERS = ("session", "sources", "streaming", "stateful", "sinks", "gen", "spark")


class QueryFailed(RuntimeError):
    pass


def wait_until(q, predicate, timeout: float, what: str) -> None:
    """Poll `predicate` until true; fail at once if the query died, and
    after `timeout` seconds otherwise."""
    deadline = time.monotonic() + timeout
    while True:
        if q.exception() is not None:
            raise QueryFailed(f"streaming query failed while waiting for {what}: {q.exception()}")
        if not q.isActive:
            raise QueryFailed(f"streaming query stopped while waiting for {what}")
        if predicate():
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"no {what} within {timeout:.0f} s")
        time.sleep(0.02)


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the checkpoint's file-source log
    (`sources/0/<batch>` files, every tenth compacted to `<batch>.compact`)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Committed batch id -> time of its commit file."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def write_backlog(in_dir: str, seed: int, files: int, per_file: int) -> None:
    """`files` files of `per_file` events, with strictly increasing mtimes
    that all precede the generator's files."""
    rng = np.random.default_rng([seed, 0])
    now = time.time()
    for i in range(files):
        t = now - (files - i) * 0.01
        livegen.publish(livegen.make_events(rng, i * per_file, per_file, t),
                        in_dir, f"backlog-{i:06d}.parquet")
        os.utime(os.path.join(in_dir, f"backlog-{i:06d}.parquet"), (t, t))


def start_query(spark, in_dir: str, out_dir: str, ckpt: str, calls: dict, trigger_once: bool):
    from flinkproject_spark.streaming import sinks, stateful

    sink = sinks.idempotent_parquet_writer(out_dir)

    def writer(batch, batch_id: int) -> None:
        t0 = time.time()
        sink(batch, batch_id)
        calls[batch_id] = (t0, time.time())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(in_dir))
    w = (stateful.fix_is_new_flag_stream(stream).writeStream
         .foreachBatch(writer).option("checkpointLocation", ckpt))
    if trigger_once:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{TRIGGER_MS} milliseconds")
    return w.start()


def read_sink(out_dir: str):
    return pq.read_table(out_dir, partitioning="hive").to_pandas()


def expected_is_new(in_files: list[str]):
    """event_id -> is_new as the generator sees it: 1 for each user's first event."""
    ev = pq.read_table(in_files, columns=["event_id", "user_id"]).to_pandas()
    ev = ev.sort_values("event_id")
    ev["is_new"] = (~ev.duplicated("user_id")).astype("int64")
    return ev.set_index("event_id")["is_new"]


def run(ctx) -> dict:
    base = os.path.join(ctx.work, "live")
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))

    def prepare(spark) -> None:
        shutil.rmtree(base, ignore_errors=True)
        for d in ("in", "warm_in"):
            os.makedirs(os.path.join(base, d))
        with ctx.span("backlog"):
            write_backlog(in_dir, ctx.seed, BACKLOG_FILES, BACKLOG_FILE_EVENTS)
        with ctx.span("warmup"):
            write_backlog(os.path.join(base, "warm_in"), ctx.seed + 1, WARMUP_FILES, BACKLOG_FILE_EVENTS)
            q = start_query(spark, os.path.join(base, "warm_in"), os.path.join(base, "warm_out"),
                            os.path.join(base, "warm_ckpt"), {}, trigger_once=True)
            try:
                if not q.awaitTermination(WAIT_S):
                    raise TimeoutError("warm-up query did not finish")
                if q.exception() is not None:
                    raise QueryFailed(f"warm-up query failed: {q.exception()}")
            finally:
                q.stop()

    setup_times = ctx.setup(prepare)
    spark = ctx.spark
    listener = None
    if ctx.tracer:
        listener = progress_listener()
        spark.streams.addListener(listener)

    calls: dict[int, tuple[float, float]] = {}
    backlog_names = sorted(os.listdir(in_dir))
    gen = None
    manifest_path = os.path.join(base, "manifest.json")
    t_query = time.time()
    q = start_query(spark, in_dir, out_dir, ckpt, calls, trigger_once=False)
    try:
        # phase 1: drain the backlog
        with ctx.span("phase1"):
            def backlog_committed() -> bool:
                b = file_batches(ckpt).get(backlog_names[-1])
                return b is not None and b in commit_times(ckpt)

            wait_until(q, backlog_committed, WAIT_S, "backlog commit")
        last_backlog_batch = file_batches(ckpt)[backlog_names[-1]]
        catchup_s = commit_times(ckpt)[last_backlog_batch] - t_query

        # phase 2: open-loop feed at livegen.RATE for --seconds
        with ctx.span("phase2"):
            gen = subprocess.Popen([
                sys.executable, livegen.__file__, "--dir", in_dir, "--manifest", manifest_path,
                "--seed", str(ctx.seed), "--seconds", str(ctx.seconds),
                "--first-event-id", str(BACKLOG_FILES * BACKLOG_FILE_EVENTS)])
            wait_until(q, lambda: gen.poll() is not None, ctx.seconds + WAIT_S, "generator exit")
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            with open(manifest_path) as f:
                manifest = json.load(f)
            gen_names = [g["name"] for g in manifest["files"]]

            def all_committed() -> bool:
                fb, ct = file_batches(ckpt), commit_times(ckpt)
                return all(fb.get(n) in ct for n in gen_names)

            wait_until(q, all_committed, WAIT_S, "commit of every generated file")
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()

    fb, ct = file_batches(ckpt), commit_times(ckpt)
    settle_end = manifest["files"][0]["due"] + SETTLE_S
    files = [g for g in manifest["files"] if g["due"] >= settle_end]
    lat_ms = []
    for g in files:
        b = fb[g["name"]]
        lat_ms += [(calls[b][1] - g["due"]) * 1000.0] * g["events"]
    # batches that carried only measured files (a batch may straddle the settle end)
    gen_batches = sorted({fb[g["name"]] for g in files} - {fb[g["name"]] for g in manifest["files"]
                                                             if g["due"] < settle_end})
    all_files = manifest["files"]
    backlog = [sum(g["visible"] < ct[b] for g in all_files) - sum(fb[g["name"]] <= b for g in all_files)
               for b in gen_batches]
    late_ms = [(g["visible"] - g["due"]) * 1000.0 for g in all_files]

    # correctness: every event exactly once in the sink, with the right is_new
    sink = read_sink(out_dir)
    want = expected_is_new(sorted(glob.glob(os.path.join(in_dir, "*.parquet"))))
    got = sink.set_index("event_id")["is_new"]
    dup = int(got.index.duplicated().sum())
    got = got[~got.index.duplicated()]
    common = want.index.intersection(got.index)
    missing, extra = len(want) - len(common), len(got) - len(common)
    wrong = int((got[common] != want[common]).sum())
    failed = dup + missing + extra + wrong

    third = max(1, len(backlog) // 3)
    growth = float(np.mean(backlog[-third:]) - np.mean(backlog[:third]))
    valid_reasons = []
    if growth > 1.0 or max(backlog) >= FILES_PER_TRIGGER:
        valid_reasons.append(f"backlog not flat in phase 2 (first third {np.mean(backlog[:third]):.2f}, "
                             f"last third {np.mean(backlog[-third:]):.2f}, max {max(backlog)} files)")
    late_p99 = percentile(late_ms, 99)
    if late_p99 >= TICK_MS:
        valid_reasons.append(f"generator late: p99 {late_p99:.1f} ms >= one tick ({TICK_MS} ms)")
    for r in valid_reasons:
        print(f"live_events run invalid: {r}", file=sys.stderr)
    if failed:
        print(f"live_events sink check: {dup} duplicated, {missing} missing, {extra} unexpected, "
              f"{wrong} wrong is_new", file=sys.stderr)

    n_events = len(want)
    returning = int((want == 0).sum())
    res = {
        "correct": failed == 0 and not valid_reasons,
        "attempted": n_events,
        "failed": failed,
        "end_to_end": {
            "setup_s": median(setup_times),
            "pass_s": catchup_s,
            "latency_p50_ms": percentile(lat_ms, 50),
            "latency_p90_ms": percentile(lat_ms, 90),
        },
        "notes": [f"live_events: catch-up {BACKLOG_FILES * BACKLOG_FILE_EVENTS} events in "
                  f"{catchup_s:.2f} s = {BACKLOG_FILES * BACKLOG_FILE_EVENTS / catchup_s:.0f} rows/s; "
                  f"phase 2: {len(files)} files, {len(lat_ms)} events, {len(gen_batches)} triggers, "
                  f"backlog first/last third {np.mean(backlog[:third]):.2f}/{np.mean(backlog[-third:]):.2f} "
                  f"files, generator late p99 {late_p99:.1f} ms, {returning} of {n_events} events from "
                  f"returning users, setup rounds "
                  f"{['%.2f' % t for t in setup_times]} s"],
    }
    if ctx.tracer:
        rows = sink.groupby("batch_id", observed=True).size().to_dict()
        res["per_layer"], res["trace_extra"] = per_layer(
            ctx, listener, gen_batches, calls, rows, files, all_files, fb, backlog, late_ms, q.id)
    return res


def progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every trigger's StreamingQueryProgress as a dict."""

        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def _iso_s(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def per_layer(ctx, listener, gen_batches, calls, rows, files, all_files, fb, backlog, late_ms, query_id):
    tr = ctx.tracer
    # stopping the session drains the listener bus, so every trigger's
    # progress has reached the listener, and flushes the event log
    jobs = tracing.job_metrics(tracing.read_events(ctx.finish_event_log()))
    progress = listener.progress
    prog = {p["batchId"]: p for p in progress if p["id"] == str(query_id) and p["numInputRows"] > 0}
    lost = sorted(set(gen_batches) - set(prog))
    if lost:
        raise RuntimeError(f"no streaming progress for measured batches {lost}")
    batches = gen_batches
    phase2 = next(s["id"] for s in tr.spans if s["name"] == "phase2")
    for b in sorted(prog):
        p = prog[b]
        start = _iso_s(p["timestamp"])
        tid = tr.add_span("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                          phase2 if b in gen_batches else None, batch_id=b, durationMs=p["durationMs"])
        if b in calls:
            tr.add_span("sinks.write", calls[b][0], calls[b][1], tid, batch_id=b)

    measured = [j for j in jobs.values() if j["batch_id"] in set(batches)]
    in_rows = sum(prog[b]["numInputRows"] for b in batches)

    def d(b, k):
        return prog[b]["durationMs"].get(k, 0)

    trig = [d(b, "triggerExecution") for b in batches]
    sink_ms = {b: (calls[b][1] - calls[b][0]) * 1000.0 for b in batches}
    state = [prog[b]["stateOperators"][0] for b in batches]
    lag = [(_iso_s(prog[fb[g["name"]]]["timestamp"]) - g["visible"]) * 1000.0 for g in files
           if fb[g["name"]] in prog]
    out = {
        "session.start_s": median(s["end"] - s["start"] for s in tr.spans if s["name"] == "session.start"),
        "sources.latest_offset_ms": median(d(b, "latestOffset") for b in batches),
        "sources.get_batch_ms": median(d(b, "getBatch") for b in batches),
        "sources.backlog_files": median(backlog),
        "sources.lag_ms": median(lag),
        "streaming.triggers": len(batches),
        "streaming.trigger_p50_ms": percentile(trig, 50),
        "streaming.trigger_p90_ms": percentile(trig, 90),
        "streaming.fixed_ms": median(d(b, "triggerExecution") - d(b, "addBatch") for b in batches),
        "streaming.query_planning_ms": median(d(b, "queryPlanning") for b in batches),
        "streaming.wal_commit_ms": median(d(b, "walCommit") for b in batches),
        "streaming.commit_offsets_ms": median(d(b, "commitOffsets") for b in batches),
        "streaming.rows_per_trigger": median(prog[b]["numInputRows"] for b in batches),
        "stateful.apply_ms": median(d(b, "addBatch") - sink_ms[b] for b in batches),
        "stateful.state_rows": state[-1]["numRowsTotal"],
        "stateful.state_bytes": state[-1]["memoryUsedBytes"],
        "stateful.state_commit_ms": median(s["commitTimeMs"] for s in state),
        "stateful.update_ms": median(s["allUpdatesTimeMs"] for s in state),
        "sinks.write_ms": median(sink_ms.values()),
        "sinks.rows": median(rows.get(b, 0) for b in batches),
        "gen.late_ms_p99": percentile(late_ms, 99),
        "gen.events": sum(g["events"] for g in all_files),
        "gen.files": len(all_files),
        **tracing.spark_layer(tracing.sum_jobs(measured), len(batches), in_rows),
    }
    return out, {"progress": progress}
