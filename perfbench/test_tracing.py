"""Tests for the traced run's parsing and span arithmetic.

    python3 -m pytest perfbench/test_tracing.py -q

The fixture is an event log captured from Spark 4 with its rolling layout
(`eventlog_v2_<app>/events_<n>_<app>` plus an `appstatus_` marker): a
grouped aggregation run under job group `span-7`, then an ungrouped count.
Only the events and fields the parser reads were kept, and the log was
split at a job boundary into two files, as rolling splits a long log.
"""

from __future__ import annotations

import os
import shutil

import pytest

import tracing

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
APP = "local-1792257853267"


def _jobs(files):
    return tracing.job_metrics(tracing.read_events(files))


def test_rolling_layout_is_read_in_order_across_files():
    files = tracing.event_log_files(FIXTURES, APP)
    assert [os.path.basename(f) for f in files] == [f"events_1_{APP}", f"events_2_{APP}"]
    jobs = _jobs(files)
    assert sorted(jobs) == [0, 1, 2, 3]
    grouped = tracing.sum_jobs([j for j in jobs.values() if j["group"] == "span-7"])
    other = tracing.sum_jobs([j for j in jobs.values() if j["group"] is None])
    # the aggregation: map stage (2 tasks), then AQE's reduce job whose
    # re-listed map stage is skipped (1 task)
    assert (grouped["jobs"], grouped["stages"], grouped["tasks"]) == (2, 2, 3)
    assert grouped["run_ms"] == 248 + 245 + 108
    assert grouped["shuffle_write_bytes"] == grouped["shuffle_read_bytes"] == 452
    assert (other["jobs"], other["stages"], other["tasks"], other["run_ms"]) == (2, 2, 3, 80)
    assert grouped["cpu_ms"] == pytest.approx((136242830 + 130764000 + 73957270) / 1e6)


def test_rolled_files_sort_numerically(tmp_path):
    src = os.path.join(FIXTURES, f"eventlog_v2_{APP}")
    dst = tmp_path / f"eventlog_v2_{APP}"
    dst.mkdir()
    shutil.copy(os.path.join(src, f"events_1_{APP}"), dst / f"events_2_{APP}")
    shutil.copy(os.path.join(src, f"events_2_{APP}"), dst / f"events_10_{APP}")
    names = [os.path.basename(f) for f in tracing.event_log_files(str(tmp_path), APP)]
    assert names == [f"events_2_{APP}", f"events_10_{APP}"]


def test_missing_and_compressed_logs_fail_loudly(tmp_path):
    with pytest.raises(FileNotFoundError):
        tracing.event_log_files(str(tmp_path), APP)
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    (d / f"events_1_{APP}.zstd").write_bytes(b"")
    with pytest.raises(ValueError, match="compressed"):
        tracing.event_log_files(str(tmp_path), APP)


def test_self_time_subtracts_covered_child_time_once():
    tr = tracing.Tracer()
    root = tr.add_span("root", 0.0, 10.0, None)
    tr.add_span("a", 1.0, 4.0, root)
    tr.add_span("b", 3.0, 5.0, root)  # overlaps a by 1 s
    tr.add_span("c", 9.0, 12.0, root)  # runs past the parent's end
    assert tr.self_time(tr.spans[root]) == pytest.approx(10.0 - 4.0 - 1.0)


def test_span_nesting_and_wrap_rebinds_every_importer():
    import types

    tr = tracing.Tracer()
    mod = types.ModuleType("m")

    def load(x):
        return x * 2

    mod.load = load
    importer = types.ModuleType("importer")
    importer.load = load
    import sys

    sys.modules["_perfbench_m"], sys.modules["_perfbench_importer"] = mod, importer
    try:
        tr.wrap(mod, "load", "m.load")
        with tr.span("outer"):
            assert importer.load(3) == 6
    finally:
        del sys.modules["_perfbench_m"], sys.modules["_perfbench_importer"]
    assert importer.load is mod.load is not load
    outer, inner = tr.spans
    assert inner["name"] == "m.load" and inner["parent"] == outer["id"]


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert tracing.percentile(vals, 50) == 50
    assert tracing.percentile(vals, 90) == 90
    assert tracing.percentile([7.0], 99) == 7.0
