"""`dws_queries`: the publisher/DWS serving path as a closed loop.

One client makes repeated passes over the 16 warehouse queries, each
materialized with a noop write; the seed permutes the order within each
pass. Every query is first checked once against its DuckDB oracle twin,
outside the timed passes, which also warms the JVM up.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

import datagen
import tracing
from tracing import median

SF = 0.01
QUERIES = [
    "a6_visitor_stats", "a7_window_distinct", "a8_interval_join", "a9_order_wide",
    "a9_product_wide", "a10_unique_visits", "a11_is_new_flag", "a12_bounce",
    "a17_topn_gmv_brand", "a19_keyword_stats", "a20_sql_province_stats", "province_stats",
    "product_stats", "b4_cdc_roundtrip", "gmv_rollup", "topn_per_nation",
]
WARMUP_QUERY = "province_stats"
LAYERS = ("session", "catalog", "entry", "operators", "spark")  # per-layer metrics it must report


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tools.verify_local import compare

    data = os.path.join(ctx.work, "data")
    queries, oracles = entry.queries(), entry.oracle_sql()
    table_rows: dict[str, int] = {}

    def prepare(spark) -> None:
        shutil.rmtree(data, ignore_errors=True)
        with ctx.span("datagen"):
            table_rows.update(datagen.write_tables(data, ctx.seed, SF))
        with ctx.span("warmup"):
            queries[WARMUP_QUERY](spark, data).write.format("noop").mode("overwrite").save()

    setup_times = ctx.setup(prepare)
    spark = ctx.spark

    # correctness gate: Spark result vs DuckDB oracle, by value
    failed = 0
    con = duckdb.connect()
    for t in table_rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with ctx.span("oracle_gate"):
        for name in QUERIES:
            try:
                err = compare(name, queries[name](spark, data).toPandas(), con.sql(oracles[name]).df())
            except Exception:
                err = traceback.format_exc()
            if err:
                failed += 1
                print(f"oracle mismatch in {name}: {err[:2000]}", file=sys.stderr)
    con.close()

    rng = np.random.default_rng(ctx.seed)
    samples_ms: list[float] = []
    pass_s: list[float] = []
    pass_spans: list[int] = []
    attempted = len(QUERIES)
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < ctx.seconds:  # whole passes only
        with ctx.span("pass", index=len(pass_s)) as ps:
            t_pass = time.perf_counter()
            for i in rng.permutation(len(QUERIES)):
                name = QUERIES[i]
                attempted += 1
                try:
                    with ctx.span(f"entry.{name}"):
                        t0 = time.perf_counter()
                        with ctx.span("construct", query=name):
                            df = queries[name](spark, data)
                        with ctx.span("execute", query=name):
                            df.write.format("noop").mode("overwrite").save()
                        samples_ms.append((time.perf_counter() - t0) * 1000.0)
                except Exception:
                    failed += 1
                    traceback.print_exc()
            pass_s.append(time.perf_counter() - t_pass)
        if ps is not None:
            pass_spans.append(ps["id"])

    res = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": median(setup_times),
            "pass_s": median(pass_s),
            "latency_p50_ms": tracing.percentile(samples_ms, 50),
            "latency_p90_ms": tracing.percentile(samples_ms, 90),
        },
        "notes": [f"dws_queries: {len(samples_ms)} query samples in passes of "
                  f"{['%.2f' % t for t in pass_s]} s; setup rounds {['%.2f' % t for t in setup_times]} s"],
    }
    if ctx.tracer:
        res["per_layer"] = per_layer(ctx, pass_spans, table_rows)
    return res


def per_layer(ctx, pass_spans: list[int], table_rows: dict[str, int]) -> dict[str, float]:
    tr = ctx.tracer
    jobs = tracing.job_metrics(tracing.read_events(ctx.finish_event_log()))
    by_span: dict[int, list[dict]] = {}
    for j in jobs.values():
        sid = tracing.span_of_group(j["group"])
        if sid is not None:
            by_span.setdefault(sid, []).append(j)

    def n_jobs(span_ids) -> int:
        return sum(len(by_span.get(s, [])) for s in span_ids)

    per_pass: dict[str, list[float]] = {}
    per_query: dict[str, list[float]] = {}
    measured_jobs, loaded_rows = [], 0
    for pid in pass_spans:
        tot = dict.fromkeys(("catalog_calls", "catalog_ms", "catalog_jobs", "construct_ms",
                             "construct_self_ms", "construct_jobs", "execute_ms"), 0.0)
        for s in tr.descendants(pid):
            ids = [s["id"]] + [d["id"] for d in tr.descendants(s["id"])]
            dur_ms = (s["end"] - s["start"]) * 1000.0
            if s["name"] == "catalog.load_table":
                tot["catalog_calls"] += 1
                tot["catalog_ms"] += dur_ms
                tot["catalog_jobs"] += n_jobs(ids)
                loaded_rows += table_rows.get(s["attrs"]["args"][-1], 0)
            elif s["name"] == "construct":
                q = s["attrs"]["query"]
                tot["construct_ms"] += dur_ms
                tot["construct_self_ms"] += tr.self_time(s) * 1000.0
                tot["construct_jobs"] += n_jobs(ids)
                per_query.setdefault(f"entry.{q}.construct_ms", []).append(dur_ms)
                per_query.setdefault(f"entry.{q}.construct_jobs", []).append(n_jobs(ids))
            elif s["name"] == "execute":
                tot["execute_ms"] += dur_ms
            measured_jobs += by_span.get(s["id"], [])
        for k, v in tot.items():
            per_pass.setdefault(k, []).append(v)

    n = len(pass_spans)
    out = {
        "session.start_s": median(s["end"] - s["start"] for s in tr.spans if s["name"] == "session.start"),
        "catalog.load_table.calls": median(per_pass["catalog_calls"]),
        "catalog.load_table.ms": median(per_pass["catalog_ms"]),
        "catalog.load_table.jobs": median(per_pass["catalog_jobs"]),
        "entry.construct_ms": median(per_pass["construct_ms"]),
        "entry.construct_jobs": median(per_pass["construct_jobs"]),
        "operators.construct_self_ms": median(per_pass["construct_self_ms"]),
        "entry.execute_ms": median(per_pass["execute_ms"]),
        **{k: median(v) for k, v in per_query.items()},
        **tracing.spark_layer(tracing.sum_jobs(measured_jobs), n, loaded_rows),
    }
    return out
