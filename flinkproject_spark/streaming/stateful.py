"""Custom keyed-state streaming operators (`applyInPandasWithState`).

These are the three semantics Spark has no built-in operator for (SURVEY §4
"custom work" items 1/2/4), each verified on replay against its
oracle-checked batch twin in `flinkproject_spark.operators.state`:

- :func:`fix_is_new_flag_stream` — A11, keyed first-seen flag
  (reference: app/dwd/BaseLogApp.java:73-96, ValueState<String>).
- :func:`unique_visits_stream`   — A10+A14, first-event-per-key-per-day with
  24 h TTL state eviction (app/dwm/UniqueVisitApp.java:54-87).
- :func:`detect_bounces_stream`  — A12, CEP bounce detection with the
  event-time *timeout* branch (app/dwm/UserJumpDetailApp.java:68-117: match
  path = second session-entry too soon... emits first event; timeout path =
  no follow-up before the timer -> also emits first event).

Mechanics shared by all three:
- input must already be watermarked (`withWatermark("ts", ...)`) — the
  watermark both bounds state and drives `GroupStateTimeout.EventTimeTimeout`;
- rows inside a micro-batch are sorted by (ts, event_id) in pandas — Spark
  does not order rows within a batch, and the replay harness guarantees
  ordering only ACROSS batches;
- the replay heartbeat key (replay.HEARTBEAT_ID) is skipped so sentinel rows
  advance the watermark without polluting output.

Per-key cost: Spark calls the function once per key and trigger, and
most keys in a trigger carry one row, so work per call sets capacity.
`fix_is_new_flag_stream` and `unique_visits_stream` pass `ts` in as epoch
micros (pyspark localises a timestamp column for every key), format it in
the JVM after the operator instead of a per-key `strftime`, skip the
concat and sort for one chunk or one row, and write state only when it
changes. What is left per key is Spark's own Arrow framing and state
access.

Scale posture: state is sharded by the group key across executors (HDFS/
RocksDB-backed state store on a real cluster); per-key state here is O(1)
(a flag, a date, one pending event) so 10^9 keys is ~GBs cluster-wide, and
every timer is watermark-bounded so state cannot grow without bound.
"""

from __future__ import annotations

from datetime import date
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flinkproject_spark.streaming.replay import HEARTBEAT_ID

_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _ordered(pdfs: Iterator[pd.DataFrame], ts: str = "ts") -> pd.DataFrame:
    """One key's rows in (ts, event_id) order; most keys arrive as one
    chunk of one row, which needs neither the concat nor the sort."""
    chunks = list(pdfs)
    if not chunks:
        return pd.DataFrame()
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    if len(pdf) > 1:
        pdf = pdf.sort_values([ts, "event_id"], kind="mergesort", ignore_index=True)
    return pdf


def _with_ts_us(events: DataFrame, *cols: str) -> DataFrame:
    """`events` projected to `cols`, with `ts` as epoch micros in `ts_us`:
    a bigint crosses into pandas as is, where a timestamp is localised for
    every key. `ts_us` keeps `ts`'s watermark metadata, so EventTimeTimeout
    still finds its watermark and still drops late rows (`ts_us` compares
    with the watermark in micros, as a timestamp does)."""
    ts_us = F.unix_micros("ts").alias("ts_us", metadata=events.schema["ts"].metadata)
    return events.select("event_id", ts_us, *cols)


def _ts_string() -> Column:
    """`ts_us` formatted in the JVM, as the per-key strftime did in pandas."""
    return F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM-dd HH:mm:ss")


def _ts_ms(series: pd.Series) -> pd.Series:
    return series.astype("datetime64[ns]").astype("int64") // 1_000_000


def _safe_timeout(state: GroupState, at_ms: int) -> None:
    """EventTimeTimeout requires a timestamp strictly past the watermark."""
    state.setTimeoutTimestamp(max(at_ms, state.getCurrentWatermarkMs() + 1))


# ---------------------------------------------------------------------------
# A11 — new/returning-visitor flag (keyed first-seen, no timers)
# ---------------------------------------------------------------------------
def fix_is_new_flag_stream(events: DataFrame) -> DataFrame:
    """is_new=1 iff the event is its user's first ever, via a per-key seen
    flag — the streaming twin of operators.state.fix_is_new_flag."""

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] == HEARTBEAT_ID:
            return
        pdf = _ordered(pdfs, "ts_us")
        if not len(pdf):
            return
        is_new = np.zeros(len(pdf), dtype="int64")
        if not state.exists:
            is_new[0] = 1
            state.update((True,))
        yield pdf.assign(is_new=is_new)

    flagged = _with_ts_us(events, "user_id", "event_type").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="event_id bigint, ts_us bigint, user_id bigint, event_type string, is_new bigint",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return flagged.select("event_id", _ts_string().alias("ts"), "user_id", "event_type", "is_new")


def enrich_is_new_stream(events: DataFrame) -> DataFrame:
    """A11 as an ENRICHMENT (not a projection): every event passes through
    with its full payload plus `is_new` = 1 while the event falls on its
    user's first active day — the stateful fourth dimension the streaming
    4-dim VisitorStats needs (VisitorStatsApp keys on the state-corrected
    is_new, app/dws/VisitorStatsApp.java:127-138).

    `ts` stays a TIMESTAMP so a downstream `withWatermark` + windowed
    aggregate can chain onto the output (Spark's multiple-stateful-operator
    pipeline); state is one date string per user.
    """

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        pdf = _ordered(pdfs)
        if not len(pdf):
            return
        if key[0] == HEARTBEAT_ID:
            # the sentinel must PASS THROUGH: the downstream windowed agg
            # re-derives its watermark from this operator's OUTPUT event
            # times, and dropping the heartbeat here would hold that
            # watermark at the last real event forever (final windows would
            # never close). Its far-future window itself never emits.
            flags = pd.Series([0] * len(pdf), dtype="int64")
            first_dt = pdf["ts"].dt.strftime("%Y-%m-%d").iloc[0]
        else:
            first_dt = state.get[0] if state.exists else None
            dts = pdf["ts"].dt.strftime("%Y-%m-%d")
            if first_dt is None:
                first_dt = dts.iloc[0]
            state.update((first_dt,))
            flags = (dts == first_dt).astype("int64")
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "ts": pdf["ts"],
                "user_id": pdf["user_id"],
                "event_type": pdf["event_type"],
                "value": pdf["value"],
                "props": pdf["props"],
                "is_new": flags,
                "first_dt": first_dt,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string, is_new bigint, first_dt string"
        ),
        stateStructType="first_dt string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# A10 + A14 — per-day dedup with TTL state eviction
# ---------------------------------------------------------------------------
def unique_visits_stream(events: DataFrame, ttl_hours: int = 24) -> DataFrame:
    """First event per (user, event-time day), state evicted `ttl_hours`
    after the key's last event — UniqueVisitApp's ValueState<date> + 24 h TTL
    (UniqueVisitApp.java:54-87).

    Event-time-ordered input makes the per-key day monotonic, so a single
    `last_dt` string is complete state. TTL eviction is behavior-preserving
    here (a >24 h gap always lands on a later calendar day — SURVEY §7
    delta #5) but keeps unbounded-key state from accumulating forever.
    The day is computed in the JVM (`unix_date`, session time zone) and
    compared in pandas as an integer; `ts` and `dt` are formatted from
    `ts_us` and that day in the JVM after the operator.
    """
    ttl_ms = ttl_hours * 3600 * 1000
    epoch = date(1970, 1, 1).toordinal()

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] == HEARTBEAT_ID:
            return
        if state.hasTimedOut:
            state.remove()  # A14: TTL eviction
            return
        pdf = _ordered(pdfs, "ts_us")
        if not len(pdf):
            return
        day = pdf["day"].to_numpy()
        last = date.fromisoformat(state.get[0]).toordinal() - epoch if state.exists else day[0] - 1
        seen = np.maximum.accumulate(np.concatenate(([last], day)))
        if seen[-1] > last:
            state.update((date.fromordinal(int(seen[-1]) + epoch).isoformat(),))
        _safe_timeout(state, int(pdf["ts_us"].iloc[-1]) // 1000 + ttl_ms)
        yield pdf[day > seen[:-1]]

    daily = _with_ts_us(events, "user_id", "event_type", F.unix_date(F.to_date("ts")).alias("day"))
    kept = daily.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="event_id bigint, ts_us bigint, user_id bigint, event_type string, day int",
        stateStructType="last_dt string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return kept.select(
        "event_id", _ts_string().alias("ts"), "user_id", F.date_from_unix_date("day").cast("string").alias("dt"),
        "event_type",
    )


# ---------------------------------------------------------------------------
# A12 — CEP bounce detection with event-time timeout
# ---------------------------------------------------------------------------
def detect_bounces_stream(
    events: DataFrame, session_gap_min: int = 30, bounce_gap_min: int = 10
) -> DataFrame:
    """Streaming CEP: a session-entry event is a bounce when the same user's
    next event is more than `bounce_gap_min` later (match path) or never
    arrives before the event-time timer fires (timeout path) — both branches
    of UserJumpDetailApp.java:101-117, unified.

    State = the pending entry event + the key's last event time; the pending
    entry registers an event-time timer at entry_ts + bounce_gap, so the
    timeout path needs no data to fire — the watermark (advanced by the
    replay heartbeat, or by live traffic in production) triggers it.
    """
    gap_s = session_gap_min * 60
    bounce_s = bounce_gap_min * 60

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] == HEARTBEAT_ID:
            return
        pending_id, pending_s, pending_type, last_s = (
            state.get if state.exists else (None, None, None, None)
        )
        if state.hasTimedOut:
            # timeout branch: the pending entry never saw a follow-up
            state.update((None, None, None, last_s))
            if pending_id is not None:
                yield pd.DataFrame(
                    {
                        "event_id": pd.Series([pending_id], dtype="int64"),
                        "ts": [pd.Timestamp(pending_s, unit="s").strftime(_TS_FMT)],
                        "user_id": pd.Series([key[0]], dtype="int64"),
                        "event_type": [pending_type],
                    }
                )
            return
        pdf = _ordered(pdfs)
        if not len(pdf):
            return
        # whole-second arithmetic matches the batch twin's unix_timestamp()
        ts_s = _ts_ms(pdf["ts"]) // 1000
        out_ids, out_s, out_types = [], [], []
        for i in range(len(pdf)):
            t = int(ts_s.iloc[i])
            if pending_id is not None:
                if t - pending_s > bounce_s:  # match branch: follow-up too late
                    out_ids.append(pending_id)
                    out_s.append(pending_s)
                    out_types.append(pending_type)
                pending_id = pending_s = pending_type = None
            if last_s is None or t - last_s > gap_s:  # session entry
                pending_id = int(pdf["event_id"].iloc[i])
                pending_s = t
                pending_type = pdf["event_type"].iloc[i]
            last_s = t
        state.update((pending_id, pending_s, pending_type, last_s))
        if pending_id is not None:
            _safe_timeout(state, (pending_s + bounce_s) * 1000)
        if out_ids:
            yield pd.DataFrame(
                {
                    "event_id": pd.Series(out_ids, dtype="int64"),
                    "ts": [pd.Timestamp(s, unit="s").strftime(_TS_FMT) for s in out_s],
                    "user_id": pd.Series([key[0]] * len(out_ids), dtype="int64"),
                    "event_type": out_types,
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="event_id bigint, ts string, user_id bigint, event_type string",
        stateStructType="pending_id bigint, pending_s bigint, pending_type string, last_s bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Generalized CEP pattern operator (streaming form of operators.cep)
# ---------------------------------------------------------------------------
def cep_pattern_stream(
    events: DataFrame,
    steps: list,
    within_s: int,
    key_col: str = "user_id",
    contiguity: "list | None" = None,
    state_ttl_s: "int | None" = None,
) -> DataFrame:
    """Streaming `begin -> next(strict) -> within` pattern matching: the
    same machine as the batch `operators.cep.cep_pattern` (shared
    `advance_machine` core), driven by `applyInPandasWithState` with an
    event-time timer per live partial match so the timeout branch fires on
    silence, not just on later data — the full Flink-CEP timeout
    side-output analog (UserJumpDetailApp.java:101-117).

    State = (JSON partial match, last event second); both O(pattern
    length) PER KEY. A live partial's timer sits at first_matched_ts +
    within_s, watermark-bounded, so a PARTIAL MATCH cannot outlive the
    pattern budget — but `last_s` (the gap-predicate memory: session-entry
    needs the previous event's time) is kept after timeouts, so idle keys
    retain one row of state. `state_ttl_s` bounds that: an idle key's
    state evicts `state_ttl_s` seconds of event time after its last event
    (A14 TTL semantics — a post-eviction event sees gap=None, i.e. a fresh
    session entry, exactly what a > TTL gap would mean anyway when TTL >=
    the session gap). Default None = keep (the reference's keyed state is
    also unexpiring for this operator, UserJumpDetailApp.java:68-92).
    """
    from flinkproject_spark.operators import cep

    events, steps, is_sql = cep._compile_steps(events, steps)
    n = len(steps)
    strict = cep.strict_array(n, contiguity)
    out_schema = cep.output_schema(n, key_col, dict(events.dtypes)[key_col])

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] == HEARTBEAT_ID:
            return
        blob, last_s = state.get if state.exists else (None, None)
        partial = cep.deserialize_partial(blob)
        if state.hasTimedOut:
            if partial:
                # pattern-budget timeout: flush, keep gap memory, and (with
                # a TTL) arm the idle-eviction timer
                state.update((cep.serialize_partial([]), last_s))
                if state_ttl_s is not None and last_s is not None:
                    _safe_timeout(state, (int(last_s) + state_ttl_s) * 1000)
                yield cep.emissions_frame([(key[0], "timeout", partial)], n, key_col)
            elif state_ttl_s is not None:
                state.remove()  # idle TTL: evict the gap memory
            else:
                state.update((cep.serialize_partial([]), last_s))
            return
        pdf = _ordered(pdfs)
        if not len(pdf):
            return
        k0 = key[0]  # native key type — int or string alike
        ts = (_ts_ms(pdf["ts"]) // 1000).to_numpy()
        keys = np.full(len(pdf), k0)
        gaps = cep.gap_array(keys, ts, k0, None if last_s is None else int(last_s))
        pdf = pdf.assign(ts_s=ts)
        P = cep.pred_matrix(pdf, gaps, steps, is_sql)
        emissions, partial, _ = cep.run_machine(
            keys,
            pdf["event_id"].to_numpy(),
            ts,
            pdf["event_type"].to_numpy(),
            P,
            within_s,
            k0,  # cur_key == this group's key so carried partial survives
            partial,
            strict,
        )
        state.update((cep.serialize_partial(partial), int(ts[-1])))
        if partial:
            _safe_timeout(state, (partial[0][1] + within_s) * 1000)
        elif state_ttl_s is not None:
            _safe_timeout(state, (int(ts[-1]) + state_ttl_s) * 1000)
        if emissions:
            yield cep.emissions_frame(emissions, n, key_col)

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="partial string, last_s bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def detect_bounces_cep_stream(
    events: DataFrame, session_gap_min: int = 30, bounce_gap_min: int = 10
) -> DataFrame:
    """A12 as a `cep_pattern_stream` instance — begin(entry).next(entry)
    .within(bounce_gap), both branches projecting the first step's event.
    Replay-parity with the oracle-checked batch twins is pinned by test."""
    from flinkproject_spark.operators import cep

    entry = cep.session_entry_pred(session_gap_min)
    pat = cep_pattern_stream(events, [entry, entry], within_s=bounce_gap_min * 60)
    return pat.select(
        F.col("s0_event_id").alias("event_id"),
        F.col("s0_ts").alias("ts"),
        "user_id",
        F.col("s0_event_type").alias("event_type"),
    )


# ---------------------------------------------------------------------------
# Conversion funnel as a keyed state machine (analytics.funnel's twin)
# ---------------------------------------------------------------------------
def funnel_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    step_window_s: "int | None" = None,
) -> DataFrame:
    """Per-user funnel state machine: state = the first timestamp of each
    reached stage (stage i+1 only advances on an event strictly after
    stage i — and, when `step_window_s` is set, no later than that many
    seconds after it: the time-constrained funnel_windowed twin); every
    micro-batch that changes a user's state emits the user's CURRENT
    funnel row (update semantics — the serving table's upsert stream).
    Replay test pins: last emission per user == the oracle-checked batch
    funnel / funnel_windowed row.

    State is `len(steps)` epoch-microsecond slots — O(1) per user; no
    timers (a funnel never un-advances, and a missed deadline needs no
    eviction — the slot simply never fills), so NoTimeout.
    """
    n = len(steps)
    win_us = None if step_window_s is None else step_window_s * 1_000_000

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] == HEARTBEAT_ID:
            return
        pdf = _ordered(pdfs)
        if not len(pdf):
            return
        slots = list(state.get) if state.exists else [None] * n
        changed = not state.exists
        ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000
        for i in range(len(pdf)):
            et = pdf["event_type"].iloc[i]
            t = int(ts_us.iloc[i])
            for s_idx, s_name in enumerate(steps):
                if et != s_name or slots[s_idx] is not None:
                    continue
                prev = slots[s_idx - 1] if s_idx else None
                if s_idx == 0 or (
                    prev is not None
                    and t > prev
                    and (win_us is None or t <= prev + win_us)
                ):
                    slots[s_idx] = t
                    changed = True
        state.update(tuple(slots))
        if not changed:
            return
        stage = 0
        for s_idx in range(n):
            if slots[s_idx] is not None:
                stage = s_idx + 1
            else:
                break
        out = {"user_id": pd.Series([key[0]], dtype="int64")}
        for s_idx in range(n):
            v = slots[s_idx]
            out[f"s{s_idx}_ts"] = [
                pd.Timestamp(v * 1_000, unit="ns").strftime(_TS_FMT)
                if v is not None
                else "never"
            ]
        out["funnel_stage"] = pd.Series([stage], dtype="int64")
        yield pd.DataFrame(out)

    slot_schema = ", ".join(f"s{i} bigint" for i in range(n))
    out_schema = "user_id bigint, " + ", ".join(
        f"s{i}_ts string" for i in range(n)
    ) + ", funnel_stage bigint"
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=slot_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# daily anomaly flags — trailing-window state per event_type (VERDICT r04 #1)
# ---------------------------------------------------------------------------
def _round_half_up6(x: float) -> float:
    """Spark's round(x, 6) for doubles: Scala BigDecimal(d) goes through
    Double.toString — the SHORTEST round-trip decimal repr — then HALF_UP.
    Python's repr(float) is the same shortest repr, so Decimal(repr(x))
    (NOT Decimal(x), the exact binary expansion, which disagrees at
    representation-boundary ties) reproduces it exactly."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), decimal.ROUND_HALF_UP
        )
    )


def daily_anomalies_stream(
    events: DataFrame, trailing_days: int = 7, sigma: float = 3.0
) -> DataFrame:
    """Streaming twin of analytics.daily_anomalies: per event_type, state
    is the trailing deque of the last `trailing_days` CLOSED day counts
    (comma-joined — O(trailing_days) per key) plus a small map of OPEN
    days still inside the watermark horizon. A day closes ONLY when the
    watermark passes its end (checked on both the data path and the
    event-time timer) — never merely because a later day's event showed
    up, so out-of-order arrivals within the watermark delay (a 23:59:50
    event landing after midnight's first event) still count into their
    own day, exactly as the batch twin counts them. Days are closed in
    calendar order, each judged against the deque's mean + sigma *
    stddev_samp (both rounded to 6 dp exactly as the batch twin rounds)
    then pushed. Events for a day already closed are late beyond the
    watermark contract and are dropped — Flink/Spark's standard
    late-data semantics.

    Open-day state is bounded by the watermark delay (delay < 24 h keeps
    at most 2 days open); counts are integers, so the two engines'
    double mean/std agree to well past 6 dp and the rounding mirrors
    Spark's shortest-repr BigDecimal HALF_UP — replay parity is exact.
    """

    def stats(hist: list[int]) -> tuple:
        if not hist:
            return None, None
        mu = _round_half_up6(sum(hist) / len(hist))
        if len(hist) < 2:
            return mu, None
        m = sum(hist) / len(hist)
        var = sum((v - m) ** 2 for v in hist) / (len(hist) - 1)
        return mu, _round_half_up6(var**0.5)

    def row(etype: str, day: str, n: int, hist: list[int]) -> pd.DataFrame:
        hist_mu, hist_sd = stats(hist)
        flag = (
            hist_mu is not None
            and hist_sd is not None
            and n > hist_mu + sigma * hist_sd
        )
        return pd.DataFrame(
            {
                "event_type": [etype],
                "day": [day],
                "n": pd.Series([n], dtype="int64"),
                "trailing_mean": pd.Series([hist_mu], dtype="float64"),
                "trailing_std": pd.Series([hist_sd], dtype="float64"),
                "is_anomaly": [bool(flag)],
            }
        )

    def day_end_ms(day: str) -> int:
        return int(pd.Timestamp(day).value // 1_000_000) + 86_400_000

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if key[0] in (HEARTBEAT_ID, str(HEARTBEAT_ID)):
            return
        hist_s, open_s, last_closed = (
            state.get if state.exists else ("", "", None)
        )
        hist = [int(v) for v in hist_s.split(",") if v]
        open_days: dict[str, int] = {}
        for part in open_s.split(";"):
            if part:
                d, c = part.split(":")
                open_days[d] = int(c)

        if not state.hasTimedOut:
            pdf = _ordered(pdfs)
            for day, cnt in (
                pdf["ts"].dt.strftime("%Y-%m-%d").value_counts().sort_index().items()
            ):
                if last_closed is not None and day <= last_closed:
                    continue  # late beyond the watermark: dropped
                open_days[day] = open_days.get(day, 0) + int(cnt)

        # close (in calendar order) every open day the watermark has passed
        # — on the timer path AND after data, so emission never stalls
        wm = state.getCurrentWatermarkMs()
        outs = []
        for d in sorted(open_days):
            if day_end_ms(d) > wm:
                break
            n = open_days.pop(d)
            outs.append(row(key[0], d, n, hist))
            hist.append(n)
            del hist[:-trailing_days]
            last_closed = d

        state.update(
            (
                ",".join(map(str, hist)),
                ";".join(f"{d}:{open_days[d]}" for d in sorted(open_days)),
                last_closed,
            )
        )
        if open_days:
            # timer at the OLDEST open day's end: fires once the watermark
            # proves that day complete (closing the stream's final days)
            _safe_timeout(state, day_end_ms(min(open_days)))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=(
            "event_type string, day string, n bigint, trailing_mean double, "
            "trailing_std double, is_anomaly boolean"
        ),
        stateStructType="hist string, open_days string, last_closed string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
