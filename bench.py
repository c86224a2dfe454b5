"""Benchmark harness — runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes session startup; each query materializes via a noop write
(full execution, no driver collect bottleneck). A warmup query spins up the
executor pool + JIT before measurement. Each query runs
$SPARK_GRAFT_BENCH_REPEATS times (default 3) and reports the per-query
MEDIAN — single-shot timings drifted up to 1.7x between rounds from
shared-JVM noise alone (VERDICT r02), which made real regressions
unattributable.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from flinkproject_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

# Representative warm-up + ordering prefix; bench runs EVERY queries() entry
# (this list first, then any remaining contract queries in declaration
# order), so each claimed operator gets a recorded timing.
HEADLINE = [
    "province_stats",
    "product_stats",
    "a6_visitor_stats",
    "a7_window_distinct",
    "a8_interval_join",
    "a9_order_wide",
    "a9_product_wide",
    "a10_unique_visits",
    "a11_is_new_flag",
    "a12_bounce",
    "a13_sessionize",
    "a17_topn_gmv_brand",
    "a19_keyword_stats",
    "a20_sql_province_stats",
    "b4_cdc_roundtrip",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_blocked",
    "dedup_embedding",
    "sim_topk_vectorized",
    "sim_topk_ivf",
    "text_quality",
    "text_langid",
    "text_token_stats",
    "text_bpe_tokens",
    "session_stats",
    "mm_decode",
    "mm_features",
    "asof_last_order",
    "gmv_rollup",
    "topn_per_nation",
    "sliding_visitor_stats",
    "order_value_percentiles",
    "scd2_order_state",
    "a8_interval_join_outer",
    "event_type_pivot",
    "dedup_survivors",
    "running_spend",
    "product_stats_approx",
    "sim_topk_ivf_nprobe",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Fixed, cheap, plan-stable probe measuring the session's JVM/sandbox noise
# floor (VERDICT r04 #2): its plan never changes round-over-round, so any
# spread in its repeats is environment noise, not code. Probed at the start
# AND end of the run so within-run drift is visible too.
NOISE_PROBE = "a17_topn_gmv_brand"
NOISE_REPS = 5


def probe_noise(spark, qs) -> list[float]:
    times = []
    for _ in range(NOISE_REPS):
        t0 = time.perf_counter()
        materialize(qs[NOISE_PROBE](spark, SF_DIR))
        times.append(round(time.perf_counter() - t0, 3))
    return times


def _spread_pct(times: list[float]) -> float:
    return round(100.0 * (max(times) - min(times)) / statistics.median(times), 1)


# Quiet-box pre-flight (VERDICT r09 #8): two consecutive rounds needed manual
# retimes because the box was hammered during recording (probe spreads 50%+).
# Refuse to START timing until the probe spread is under the gate, waiting
# out transient load between attempts; if the box never settles, record
# anyway (the driver needs its one JSON line) but say so in the output —
# `preflight.passed=false` marks every timing in the run as noise-suspect.
PREFLIGHT_MAX_SPREAD_PCT = 25.0
PREFLIGHT_ATTEMPTS = 3
PREFLIGHT_COOLDOWN_S = 30.0


def preflight(spark, qs) -> tuple[dict, list[float]]:
    """Returns (report, last probe times) — the last attempt's probe doubles
    as the run's start-of-run noise sample so a clean pre-flight costs no
    extra probe runs."""
    attempts: list[float] = []
    times: list[float] = []
    for i in range(PREFLIGHT_ATTEMPTS):
        times = probe_noise(spark, qs)
        attempts.append(_spread_pct(times))
        if attempts[-1] <= PREFLIGHT_MAX_SPREAD_PCT:
            break
        if i < PREFLIGHT_ATTEMPTS - 1:
            time.sleep(PREFLIGHT_COOLDOWN_S)
    report = {
        "gate_pct": PREFLIGHT_MAX_SPREAD_PCT,
        "attempt_spreads_pct": attempts,
        "passed": attempts[-1] <= PREFLIGHT_MAX_SPREAD_PCT,
    }
    return report, times


def load_prev_bench() -> tuple[str, dict] | None:
    """Latest recorded BENCH_r{N}.json next to this script, for the
    round-over-round comparison. Driver archives hold only a truncated
    stdout tail — tools/bench_compare.parse_round normalizes both shapes."""
    from tools.bench_compare import parse_round

    here = os.path.dirname(os.path.abspath(__file__))
    # Sort by parsed round NUMBER, not filename: lexicographic sort would
    # put BENCH_r100 before BENCH_r99 once rounds outgrow two digits.
    recs = sorted(
        (f for f in os.listdir(here)
         if re.fullmatch(r"BENCH_r(\d+)\.json", f)),
        key=lambda f: int(re.fullmatch(r"BENCH_r(\d+)\.json", f).group(1)),
    )
    if not recs:
        return None
    try:
        with open(os.path.join(here, recs[-1])) as fh:
            return recs[-1], parse_round(json.load(fh))
    except (OSError, ValueError):
        return None


def vs_prev_summary(
    timings: dict, noise_spread_pct: float, retime=None
) -> dict | None:
    prev = load_prev_bench()
    if not prev:
        return None
    fname, rec = prev
    pq = rec.get("queries") or {}
    ratios = {
        q: round(timings[q] / pq[q], 3)
        for q in timings
        if q in pq and pq[q] > 0
    }
    if not ratios:
        return None
    vals = sorted(ratios.values())
    worst = max(ratios, key=ratios.get)
    # attribution rule: a per-query ratio is only a REGRESSION signal when
    # it exceeds the measured same-run noise spread; below that it is
    # environment drift by construction
    flag_gate = round(1.0 + noise_spread_pct / 100.0, 3)
    flagged = {q: r for q, r in sorted(ratios.items(), key=lambda kv: -kv[1])
               if r > flag_gate and timings[q] >= 0.5}
    # noise-hardening (VERDICT r07 task 6): re-time each provisional flag
    # back-to-back IN-SESSION before emitting it — the manual procedure
    # that cleared all 4 r07 false flags, automated. A flag survives only
    # if its fresh median still clears the gate; cleared flags are
    # reported (ratio + retimed value) so the attribution is auditable.
    retimed: dict[str, dict] = {}
    if retime is not None:
        survivors = {}
        for q in list(flagged)[:8]:
            fresh = retime(q)
            fresh_ratio = round(fresh / pq[q], 3) if pq[q] > 0 else None
            retimed[q] = {
                "first_pass_ratio": flagged[q],
                "retimed_s": fresh,
                "retimed_ratio": fresh_ratio,
            }
            if fresh_ratio is not None and fresh_ratio > flag_gate:
                survivors[q] = fresh_ratio
        flagged = survivors
    return {
        "baseline_file": fname,
        "n_common": len(ratios),
        "median_ratio": round(vals[len(vals) // 2], 3),
        "p90_ratio": round(vals[int(len(vals) * 0.9)], 3),
        "worst": {worst: ratios[worst]},
        "regression_gate": flag_gate,
        "flagged": dict(list(flagged.items())[:8]),
        "retimed": retimed,
    }


def _retimer(spark, qs):
    """Back-to-back in-session re-timer for provisionally flagged queries
    (median of REPEATS fresh runs, same materialize contract)."""

    def retime(name: str) -> float:
        reps = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            materialize(qs[name](spark, SF_DIR))
            reps.append(time.perf_counter() - t0)
        return round(statistics.median(reps), 3)

    return retime


def main() -> None:
    spark = get_spark("bench")
    qs = entrymod.queries()
    # Warmup: spin executors + JIT and touch every input table once
    # (parquet footer/file-listing caches) plus the Arrow/pandas-UDF path,
    # so measured times reflect steady-state plans, not first-touch costs.
    for warm in ("a17_topn_gmv_brand", "a6_visitor_stats", "b4_cdc_roundtrip",
                 "dedup_exact", "sim_topk_vectorized"):
        materialize(qs[warm](spark, SF_DIR))

    preflight_report, noise_start = preflight(spark, qs)
    timings: dict[str, float] = {}
    for name in HEADLINE + [q for q in qs if q not in HEADLINE]:
        reps = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            materialize(qs[name](spark, SF_DIR))
            reps.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(reps), 3)
    noise_end = probe_noise(spark, qs)

    noise_all = noise_start + noise_end
    noise_med = statistics.median(noise_all)
    spread_pct = _spread_pct(noise_all)  # same formula as the preflight gate

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # FIELD ORDER IS LOAD-BEARING: the round driver records only the LAST
    # ~2000 chars of stdout (BENCH_r{N}.json "tail"), so the per-query dict
    # goes FIRST (its tail is what gets through) and every summary field —
    # totals, noise floor, round-over-round attribution — goes LAST, where
    # truncation can never eat it.
    out = {
        "queries": timings,
        # full_query_set_total = sum over EVERY queries() entry — the same
        # semantics BENCH_r01's 60.2 s number had (it also summed all
        # queries); renamed so the metric says what it measures. The
        # fixed-subset headline_total tracks round-over-round trends even
        # as new queries join the contract.
        "metric": "full_query_set_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "headline_total": round(sum(timings[q] for q in HEADLINE), 3),
        # query count next to the total so cross-round comparisons of
        # full_query_set_total stay apples-to-apples as the surface grows
        "n_queries": len(timings),
        "repeats": REPEATS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # measurement hardening (VERDICT r04 #2): the probe's spread is the
        # session noise floor; start-vs-end runs expose within-run drift;
        # vs_prev flags only ratios that clear the noise gate
        "noise_probe": {
            "query": NOISE_PROBE,
            "start": noise_start,
            "end": noise_end,
            "median": round(noise_med, 3),
            "spread_pct": spread_pct,
        },
        "preflight": preflight_report,
        "vs_prev": vs_prev_summary(timings, spread_pct, retime=_retimer(spark, qs)),
    }
    print(json.dumps(out))
    # Additions-only artifact (VERDICT r11 task 2): the round driver
    # archives only the LAST ~2000 chars of stdout, which has repeatedly
    # left the NEXT round's vs-prev comparison without full per-query
    # data (BENCH_r10's archive parsed to null). Persist the complete
    # JSON next to the script so round-over-round comparisons never
    # depend on the stdout tail. Stdout line and timing are unchanged
    # (this runs after every measurement).
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST_FULL.json"
        )
        with open(full_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench


if __name__ == "__main__":
    main()
