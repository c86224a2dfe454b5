"""Streaming tests: replay the events table through Structured Streaming and
check each streaming operator produces EXACTLY its oracle-checked batch
twin's result (SURVEY §5 strategy — batch parity transfers to streaming)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from flinkproject_spark import catalog
from flinkproject_spark.operators import joins, routing, state, windows
from flinkproject_spark.streaming import jobs, replay, sinks, stateful


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return catalog.load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def staged(spark, events, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("replay") / "events")
    replay.stage_replay(events, path, chunks=8)
    return path


def _stream(spark, staged):
    return replay.read_replay(spark, staged)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


# --- harness ---------------------------------------------------------------

def test_replay_roundtrip_preserves_rows(spark, events, staged):
    out = replay.run_to_table(_stream(spark, staged))
    # all original rows + exactly one heartbeat sentinel
    assert out.count() == events.count() + 1
    assert out.filter(F.col("user_id") == replay.HEARTBEAT_ID).count() == 1
    got = _sorted_rows(replay.drop_heartbeats(out), ["event_id"])
    want = _sorted_rows(events, ["event_id"])
    assert got == want


def test_replay_chunks_are_time_ordered(spark, staged):
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 9  # 8 chunks + heartbeat
    last_max = None
    for f in files:
        b = spark.read.parquet(f"{staged}/{f}")
        lo, hi = b.agg(F.min("ts"), F.max("ts")).first()
        if last_max is not None:
            assert lo >= last_max
        last_max = hi


# --- A6/A7 windowed aggregates --------------------------------------------

def test_visitor_stats_stream_matches_batch(spark, events, staged):
    got = replay.run_to_table(jobs.visitor_stats_stream(_stream(spark, staged)))
    want = windows.visitor_stats(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_retention_cohorts_stream_complete_mode_matches_batch(spark, events, staged):
    """Complete-output-mode pipeline (stateful enrichment -> unwindowed
    exact-distinct aggregate): the final republished table must equal the
    oracle-checked batch cohort matrix."""
    from flinkproject_spark.operators import analytics

    out = replay.run_to_table(
        jobs.retention_cohorts_stream(_stream(spark, staged)), output_mode="complete"
    )
    want = analytics.retention_cohorts(events)
    cols = want.columns
    assert _sorted_rows(out, cols) == _sorted_rows(want, cols)


def test_funnel_stream_final_state_matches_batch(spark, events, staged):
    """Update-mode funnel state machine: the last emission per user (the
    serving table's upsert) must equal the oracle-checked batch funnel.
    Stage strictly increases across a user's emissions, so max-stage row =
    final state."""
    from flinkproject_spark.operators import analytics

    out = replay.run_to_table(
        stateful.funnel_stream(_stream(spark, staged)), output_mode="update"
    )
    pdf = out.toPandas()
    final = (
        pdf.sort_values("funnel_stage").groupby("user_id").tail(1)
        .sort_values("user_id").reset_index(drop=True)
    )
    want = (
        analytics.funnel(events).toPandas()
        .sort_values("user_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(final[want.columns], want, check_dtype=False)


def test_visitor_stats_4d_stream_matches_batch(spark, events, staged):
    """Two chained stateful operators (is_new enrichment -> 4-dim windowed
    agg) must reproduce the oracle-checked batch twin exactly on replay."""
    out = replay.run_to_table(jobs.visitor_stats_4d_stream(_stream(spark, staged)))
    want = windows.visitor_stats_4d(events)
    cols = want.columns
    assert _sorted_rows(out, cols) == _sorted_rows(want, cols)


def test_window_distinct_stream_matches_batch(spark, events, staged):
    got = replay.run_to_table(jobs.window_distinct_users_stream(_stream(spark, staged)))
    want = windows.window_distinct_users(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


# --- A8 stream-stream interval join ---------------------------------------

def test_payment_wide_stream_matches_batch(spark, events, staged):
    got = replay.run_to_table(jobs.payment_wide_stream(_stream(spark, staged)))
    want = joins.payment_wide(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


# --- A10/A11/A12 stateful operators ---------------------------------------

def test_is_new_flag_stream_matches_batch(spark, events, staged):
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(stateful.fix_is_new_flag_stream(wm))
    want = state.fix_is_new_flag(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_keyed_state_streams_keep_their_output_schema(spark, staged):
    """`ts` crosses into pandas as epoch micros and is formatted back in
    the JVM; the public output schemas stay as they were."""
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    assert stateful.fix_is_new_flag_stream(wm).schema.simpleString() == (
        "struct<event_id:bigint,ts:string,user_id:bigint,event_type:string,is_new:bigint>"
    )
    assert stateful.unique_visits_stream(wm).schema.simpleString() == (
        "struct<event_id:bigint,ts:string,user_id:bigint,dt:string,event_type:string>"
    )


def test_unique_visits_stream_matches_batch(spark, events, staged):
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(stateful.unique_visits_stream(wm))
    want = state.unique_visits(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_unique_visits_stream_drops_rows_behind_the_watermark(spark, tmp_path):
    """`ts` reaches the operator as epoch micros (`ts_us`) carrying `ts`'s
    watermark metadata, so EventTimeTimeout still finds its watermark and
    still drops a row that arrives behind it (event 5)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [
        [(1, "2024-01-02 00:00:00", 1)],
        [(2, "2024-01-02 00:00:05", 2)],
        [(3, "2024-01-03 00:00:00", 1)],
        [(4, "2024-01-03 00:00:09", 4), (5, "2024-01-01 00:00:00", 5)],
        [(6, "2024-01-04 00:00:00", 6)],
    ]
    src = tmp_path / "in"
    src.mkdir()
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"]).assign(event_type="page")
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = src / f"f{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1_000 + i, 1_000 + i))
    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src)).withWatermark("ts", "1 minute")
    )
    got = []
    q = (
        stateful.unique_visits_stream(stream).writeStream
        .foreachBatch(lambda b, _: got.extend(map(tuple, b.collect())))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)
    assert sorted(got) == [
        (1, "2024-01-02 00:00:00", 1, "2024-01-02", "page"),
        (2, "2024-01-02 00:00:05", 2, "2024-01-02", "page"),
        (3, "2024-01-03 00:00:00", 1, "2024-01-03", "page"),
        (4, "2024-01-03 00:00:09", 4, "2024-01-03", "page"),
        (6, "2024-01-04 00:00:00", 6, "2024-01-04", "page"),
    ]


def test_bounce_stream_matches_batch_incl_timeout_path(spark, events, staged):
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(stateful.detect_bounces_stream(wm))
    want = state.detect_bounces(events)
    cols = want.columns
    got_rows, want_rows = _sorted_rows(got, cols), _sorted_rows(want, cols)
    assert got_rows == want_rows
    # the timeout branch must have fired: every user's final session-entry
    # has no following event, so each user contributes >=1 timer-emitted row
    assert got.select("user_id").distinct().count() == events.select("user_id").distinct().count()


def test_cep_bounce_stream_matches_batch(spark, events, staged):
    """The generalized-CEP instance of bounce (begin(entry).next(entry)
    .within) replayed against the oracle-checked batch operator — both
    timer-driven and data-driven timeout paths exercised."""
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(stateful.detect_bounces_cep_stream(wm))
    want = state.detect_bounces(events)  # == strict at default params
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_cep_stream_sql_pattern_matches_batch(spark, events, staged):
    """General streaming/batch parity of the CEP operator on a pattern with
    JVM SQL predicates (view -> click within 5 min) over the full events
    replay — the shared `advance_machine` core makes this structural, but
    the timer wiring and state round-trip are streaming-only code."""
    from flinkproject_spark.operators import cep

    steps = ["event_type = 'view'", "event_type = 'click'"]
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(stateful.cep_pattern_stream(wm, steps, within_s=300))
    want = cep.cep_pattern(events, steps, within_s=300)
    cols = want.columns
    assert got.count() > 0
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def _derby_available() -> bool:
    import glob
    import os as _os

    import pyspark

    return bool(glob.glob(_os.path.join(_os.path.dirname(pyspark.__file__), "jars", "derby-*.jar")))


@pytest.mark.skipif(not _derby_available(), reason="no Derby jar on the Spark classpath")
def test_jdbc_sink_roundtrip_embedded_derby(spark, events, tmp_path):
    """VERDICT r04 #8: the B5 JDBC sink exercised against a REAL JDBC
    endpoint — embedded Derby (the one JDBC engine Spark ships) — not a
    format-swap claim. Stream a 2-chunk replay through start_jdbc_sink,
    read the table back over the same JDBC url, and require every row to
    survive with values intact (reference: utils/ClickHouseUtil.java:20-69)."""
    # keep derby.log inside the test tmp dir (never outside /root/repo)
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/servingdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    stage_path = str(tmp_path / "events")
    sample = events.limit(500).select("event_id", "ts", "user_id", "event_type", "value")
    replay.stage_replay(sample, stage_path, chunks=2, heartbeat_keys=())
    q = sinks.start_jdbc_sink(
        replay.read_replay(spark, stage_path),
        url=url,
        table="visitor_serving",
        driver=driver,
        checkpoint_dir=str(tmp_path / "ckpt"),
        batchsize=100,
    )
    assert q.awaitTermination(300)

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "visitor_serving")
        .option("driver", driver)
        .load()
    )
    assert back.count() == sample.count()
    want = {(r.event_id, r.user_id, r.event_type, float(r.value)) for r in sample.collect()}
    got = {(r.EVENT_ID, r.USER_ID, r.EVENT_TYPE, float(r.VALUE)) for r in back.collect()} \
        if "EVENT_ID" in back.columns else \
        {(r.event_id, r.user_id, r.event_type, float(r.value)) for r in back.collect()}
    assert got == want


@pytest.mark.skipif(not _derby_available(), reason="no Derby jar on the Spark classpath")
def test_jdbc_transactional_sink_exactly_once_on_replay(spark, events, staged, tmp_path):
    """The reference's EXACTLY_ONCE Kafka producer (MyKafkaUtil.java:29-38)
    realized against a REAL transactional store: staged-commit JDBC sink
    on embedded Derby. Crash simulation = delete the newest checkpoint
    commit marker and restart; the re-delivered batch must promote ZERO
    new rows (committed-table guard) while a naive JDBC append sink
    double-writes the same replay — and the committed table holds each
    batch id exactly once."""
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/eosdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    ckpt = str(tmp_path / "ckpt")

    def retry_dup(batch, batch_id):
        # simulate a task retry: the SAME partition rows (same deterministic
        # row_uids) land in staging a second time before the promote
        if batch_id == 0:
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .withColumn("row_uid", F.monotonically_increasing_id())
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", "serving_eos_staging")
                .option("driver", drv)
                .mode("append")
                .save()
            )

    eos = sinks.jdbc_transactional_writer(
        url, "serving_eos", driver=drv, post_stage_hook=retry_dup
    )
    naive = sinks.jdbc_batch_writer(url, "serving_naive", driver=drv)
    calls: list[int] = []

    def fn(batch, batch_id):
        b = batch.select("event_id", "ts", "user_id", "event_type", "value")
        calls.append(batch_id)
        eos(b, batch_id)
        naive(b, batch_id)

    def run():
        q = (
            replay.read_replay(spark, staged)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()

    run()
    first_calls = list(calls)
    total = events.count() + 1  # + heartbeat sentinel row

    def read(table):
        return (
            spark.read.format("jdbc")
            .option("url", url).option("dbtable", table).option("driver", drv)
            .load()
        )

    assert read("serving_eos").count() == total

    last_commit = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )[-1]
    os.remove(f"{ckpt}/commits/{last_commit}")
    crc = f"{ckpt}/commits/.{last_commit}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()

    assert int(last_commit) in calls[len(first_calls):]  # really re-delivered
    got = read("serving_eos")
    assert got.count() == total  # exactly-once: no duplicates
    want = {r.event_id for r in events.collect()}
    real = replay.drop_heartbeats(got)  # sentinel clones a real event_id
    got_ids = [r[0] for r in real.select(real.columns[0]).collect()]
    assert len(got_ids) == len(want) and set(got_ids) == want
    # committed ledger: each batch id exactly once; staging fully drained
    committed = [r[0] for r in read("serving_eos_committed").collect()]
    assert sorted(committed) == sorted(set(first_calls))
    assert read("serving_eos_staging").count() == 0
    # the naive append sink double-wrote the replayed batch — the contrast
    assert read("serving_naive").count() > total


@pytest.mark.skipif(not _derby_available(), reason="no Derby jar on the Spark classpath")
def test_jdbc_upsert_sink_exactly_once_on_replay(spark, tmp_path):
    """B6's production form (VERDICT r05 #5): the transactional MERGE
    upsert sink on embedded Derby, under the same crash-replay protocol
    as the insert sink's test. A 3-wave dim-update replay (every pk
    re-written each wave, plus a same-batch duplicate pk) must leave
    EXACTLY one row per pk carrying its LAST version — after a normal
    run, after a simulated task-retry duplicate in staging, and after a
    crash-before-checkpoint-commit replay. The committed ledger holds
    each batch id once and staging drains to zero."""
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/dimdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    ckpt = str(tmp_path / "ckpt")

    # dim update stream: pks 0..9, three versions each (ts-ordered waves),
    # plus a duplicate update for pk 0 inside wave 0 (within-batch
    # last-writer check: higher event_id -> later row -> must win)
    rows = []
    eid = 0
    for ver in range(3):
        for pk in range(10):
            rows.append((eid, f"2021-01-01 00:0{ver}:00", pk, f"n{pk}_v{ver}"))
            eid += 1
        if ver == 0:
            rows.append((eid, "2021-01-01 00:00:30", 0, "n0_v0_dup"))
            eid += 1
    dim = spark.createDataFrame(
        rows, "event_id bigint, ts string, id bigint, name string"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "id", "name")
    staged = replay.stage_replay(
        dim, str(tmp_path / "dimstream"), chunks=3, heartbeat_keys=()
    )

    def retry_dup(batch, batch_id):
        # simulate a task retry: the same rows (same deterministic
        # row_uids) land in staging twice before the promote
        if batch_id == 0:
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .withColumn("row_uid", F.monotonically_increasing_id())
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", "dim_user_staging")
                .option("driver", drv)
                .mode("append")
                .save()
            )

    upsert = sinks.jdbc_upsert_writer(
        url, "dim_user", pk="id", driver=drv, post_stage_hook=retry_dup
    )
    calls: list[int] = []

    def fn(batch, batch_id):
        calls.append(batch_id)
        upsert(batch.select("id", "name", "event_id"), batch_id)

    def run():
        q = (
            replay.read_replay(spark, staged)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()

    def read(table):
        return (
            spark.read.format("jdbc")
            .option("url", url).option("dbtable", table).option("driver", drv)
            .load()
        )

    def dim_state():
        df = read("dim_user")
        cols = sorted(df.columns, key=str.lower)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    run()
    first_calls = list(calls)
    state = dim_state()
    assert len(state) == 10  # one row per pk — the MERGE matched, not appended
    df = read("dim_user")
    by_pk = {int(r["ID" if "ID" in df.columns else "id"]):
             r["NAME" if "NAME" in df.columns else "name"] for r in df.collect()}
    assert by_pk == {pk: f"n{pk}_v2" for pk in range(10)}

    # crash: drop the newest checkpoint commit marker and replay
    last_commit = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )[-1]
    os.remove(f"{ckpt}/commits/{last_commit}")
    crc = f"{ckpt}/commits/.{last_commit}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()

    assert int(last_commit) in calls[len(first_calls):]  # really re-delivered
    assert dim_state() == state  # replay changed NOTHING
    committed = [r[0] for r in read("dim_user_committed").collect()]
    assert sorted(committed) == sorted(set(first_calls))
    assert read("dim_user_staging").count() == 0


def test_daily_anomalies_stream_matches_batch(spark, events, tmp_path_factory):
    """VERDICT r04 #1: the trailing-window anomaly op's streaming twin —
    per-event_type deque state, day closed by the next day's data or by
    the event-time timer (the final day needs the heartbeat) — replays to
    EXACTLY the oracle-checked batch rows, including the 6 dp-rounded
    baseline moments and the null-safe head rows."""
    path = str(tmp_path_factory.mktemp("replay_et") / "events")
    # heartbeat must blank the event_type key too, or its sentinel row
    # would land a phantom far-future count on a real key
    replay.stage_replay(
        events, path, chunks=8, heartbeat_keys=("user_id", "event_type")
    )
    wm = jobs.watermarked_events(replay.read_replay(spark, path), delay="1 minute")
    got = replay.run_to_table(stateful.daily_anomalies_stream(wm))
    from flinkproject_spark.operators import analytics

    want = analytics.daily_anomalies(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # the timer path fired for every key's final day
    assert got.count() == want.count() > 0


def test_daily_anomalies_stream_out_of_order_within_watermark(spark, tmp_path):
    """A day must close on the WATERMARK passing its end, not on the first
    later-day event: a 23:59:50 straggler arriving after midnight's first
    event (within the 2-minute delay) still counts into ITS day. Chunks
    are hand-staged (stage_replay sorts by ts, so it cannot produce
    disorder) with increasing mtimes."""
    import time as _time

    import pandas as pd

    base = pd.Timestamp("2024-03-01")
    chunk0 = pd.DataFrame({
        "event_id": pd.array([1, 2], dtype="int64"),
        "ts": [base + pd.Timedelta("23:59:00"), base + pd.Timedelta("1 day 00:00:30")],
        "user_id": pd.array([7, 7], dtype="int64"),
        "event_type": ["t", "t"],
    })
    chunk1 = pd.DataFrame({  # the within-delay straggler for day 1
        "event_id": pd.array([3], dtype="int64"),
        "ts": [base + pd.Timedelta("23:59:50")],
        "user_id": pd.array([7], dtype="int64"),
        "event_type": ["t"],
    })
    hb = pd.DataFrame({  # far-future sentinel closes everything
        "event_id": pd.array([99], dtype="int64"),
        "ts": [base + pd.Timedelta("30 days")],
        "user_id": pd.array([replay.HEARTBEAT_ID], dtype="int64"),
        "event_type": [str(replay.HEARTBEAT_ID)],
    })
    path = tmp_path / "ooo"
    path.mkdir()
    for i, pdf in enumerate((chunk0, chunk1, hb)):
        f = str(path / f"{i:05d}.parquet")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(f + ".d")
        part = [p for p in os.listdir(f + ".d") if p.endswith(".parquet")][0]
        os.rename(f"{f}.d/{part}", f)
        t = _time.time() + i * 10
        os.utime(f, (t, t))

    stream = replay.read_replay(spark, str(path)).withWatermark("ts", "2 minutes")
    got = replay.run_to_table(stateful.daily_anomalies_stream(stream)).toPandas()
    got = got.sort_values("day").reset_index(drop=True)
    # day 1 counts BOTH its events (e1 + the straggler e3); day 2 counts 1
    assert list(got["day"]) == ["2024-03-01", "2024-03-02"]
    assert list(got["n"]) == [2, 1]
    assert got.loc[1, "trailing_mean"] == 2.0  # baseline = closed day 1


def test_unique_visits_dropdup_counts(spark, events, staged):
    got = replay.run_to_table(jobs.unique_visits_dropdup_stream(_stream(spark, staged)))
    want = state.unique_visits(events)
    # dropDuplicates keeps an arbitrary row per (user, day): counts match
    assert got.count() == want.count()
    assert _sorted_rows(got, ["user_id", "dt"]) == _sorted_rows(want, ["user_id", "dt"])


# --- A15/B5 routed CDC sink -----------------------------------------------

def test_routed_cdc_sink_writes_pruned_tables(spark, tmp_path):
    orders = catalog.load_table(spark, "/root/testdata/sf0.001", "orders")
    enveloped = orders.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("orders").alias("tableName"),
                F.create_map(
                    F.lit("o_orderkey"), F.col("o_orderkey").cast("string"),
                    F.lit("o_custkey"), F.col("o_custkey").cast("string"),
                    F.lit("o_totalprice"), F.col("o_totalprice").cast("string"),
                    F.lit("o_orderdate"), F.col("o_orderdate").cast("string"),
                    F.lit("o_orderstatus"), F.col("o_orderstatus"),
                ).alias("after"),
                F.lit("insert").alias("type"),
            )
        ).alias("value")
    )
    staged = str(tmp_path / "cdc")
    replay.stage_replay(
        enveloped.withColumn("event_id", F.monotonically_increasing_id()),
        staged, order_col="event_id", tiebreak="event_id", chunks=4, heartbeat_keys=(),
    )
    stream = replay.read_replay(spark, staged).drop("event_id")
    decoded = routing.decode_cdc_envelope(stream)
    base = str(tmp_path / "sinks")
    q = sinks.start_routed_cdc_sink(decoded, base, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = spark.read.parquet(f"{base}/dwd_order_info")
    assert out.columns == ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    assert out.count() == orders.count()
    # update-rule sink must not exist: no update-typed rows were routed
    assert not os.path.exists(f"{base}/dwd_order_update")


def test_partitioned_serving_sink_prunes_day_scans(spark, events, staged, tmp_path):
    """B5 serving layout: a dt-partitioned DWS sink gives day-filtered
    serving queries (A18) partition pruning — the scan's PartitionFilters
    carries the dt predicate and only matching directories are listed."""
    stream = _stream(spark, staged).withColumn("dt", F.to_date("ts"))
    path = str(tmp_path / "serving")
    q = sinks.start_parquet_sink(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"), partition_cols=["dt"]
    )
    q.awaitTermination(120)

    days = [r[0] for r in spark.read.parquet(path).select("dt").distinct().collect()]
    assert len(days) > 1, "testdata spans multiple days; partitioning degenerated"
    one_day = spark.read.parquet(path).filter(F.col("dt") == F.lit(days[0]))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1].split("]")[0]
    want = events.filter(F.to_date("ts") == F.lit(days[0])).count()
    # +1 possible heartbeat row on its day; compare against replayed content
    got = replay.drop_heartbeats(one_day).count()
    assert got == want


def test_kafka_value_frame_shape(spark):
    df = spark.createDataFrame([(1, "a", "t1"), (2, "b", "t2")], ["id", "v", "sink"])
    out = sinks.kafka_value_frame(df, topic_col="sink")
    assert out.columns == ["topic", "value"]
    rows = {r.topic: r.value for r in out.collect()}
    assert '"id":1' in rows["t1"] and '"v":"b"' in rows["t2"]


def test_kafka_reader_contract_golden(spark):
    """B1/B3 contract: the exact consumer option surface the builders emit,
    pinned as golden fixtures (MyKafkaUtil.java:46-55 — servers + topic +
    group id; SQL connector :63-70 adds only the from_json projection).
    No broker needed: the contract IS the options dict; kafka_reader applies
    it verbatim."""
    from flinkproject_spark.sources import kafka

    assert kafka.kafka_reader_options("ods_base_log", group_id="base_log_app_group") == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "ods_base_log",
        "startingOffsets": "latest",
        "kafka.group.id": "base_log_app_group",
    }
    # multi-broker + replay-from-start posture
    assert kafka.kafka_reader_options(
        "ods_base_db", servers="b1:9092,b2:9092", starting_offsets="earliest"
    ) == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "ods_base_db",
        "startingOffsets": "earliest",
    }
    # builder constructs broker-free (the jar is only needed at .load())
    assert kafka.kafka_reader(spark, "ods_base_log", group_id="g") is not None


def test_kafka_writer_contract_golden(spark):
    """B2 contract: producer options golden (fixed topic MyKafkaUtil.java:25-27
    vs dynamic per-record topic :29-38), and the sink-ready wire frame is
    EXACTLY (topic string, value string) — the shape format('kafka') requires."""
    from flinkproject_spark.sources import kafka

    assert kafka.kafka_writer_options() == {
        "kafka.bootstrap.servers": "localhost:9092"
    }
    assert kafka.kafka_writer_options(servers="b1:9092", topic="dwd_page_log") == {
        "kafka.bootstrap.servers": "b1:9092",
        "topic": "dwd_page_log",
    }
    df = spark.createDataFrame([(1, "a", "t1")], ["id", "v", "sink"])
    wire = sinks.kafka_value_frame(df, topic_col="sink")
    assert wire.schema.simpleString() == "struct<topic:string,value:string>"
    fixed = sinks.kafka_value_frame(df.drop("sink"), topic="dwd_fixed")
    assert fixed.schema.simpleString() == "struct<topic:string,value:string>"
    # writer builder applies the golden options and accepts a STREAMING wire
    # frame (writeStream requires one; the rate source stands in broker-free)
    stream_wire = sinks.kafka_value_frame(
        spark.readStream.format("rate").load(), topic="dwd_fixed"
    )
    assert kafka.kafka_writer(stream_wire, topic="dwd_fixed") is not None


def test_kafka_wire_format_roundtrip_dynamic_topic(spark, sf_dir):
    """Producer->consumer wire-format round trip WITHOUT a broker: shape
    rows with kafka_value_frame (per-record dynamic topic, the reference's
    sinkTable trick at MyKafkaUtil.java:29-38), simulate the broker by
    re-presenting (topic, value) as the standard Kafka source frame, then
    decode with json_topic's parse fn. Every field must survive byte-exact,
    and the per-record topic column must route rows to their own topics."""
    from pyspark.sql import types as T

    from flinkproject_spark import catalog
    from flinkproject_spark.sources import kafka

    orders = (
        catalog.load_table(spark, sf_dir, "orders")
        .limit(200)
        # timestamps cross the JSON wire as canonical strings (project rule)
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .localCheckpoint(eager=True)  # limit() is nondeterministic; pin the sample
    )
    shaped = orders.withColumn(
        "sink_topic",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("dwd_even")).otherwise(
            F.lit("dwd_odd")
        ),
    )
    wire = sinks.kafka_value_frame(shaped, topic_col="sink_topic")
    # the broker stand-in: what spark.readStream.format("kafka") would hand
    # back — value as binary plus the source metadata columns
    raw = wire.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.StringType()),
        ]
    )
    _reader, parse = kafka.json_topic(spark, "unused", schema, view_name="kafka_rt")
    decoded = parse(raw)
    assert spark.table("kafka_rt").columns == decoded.columns  # view registered
    got = decoded.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    want = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # dynamic routing: topic column is carried per record, not globally
    by_topic = {r.topic: r.ct for r in raw.groupBy("topic").agg(F.count("*").alias("ct")).collect()}
    assert set(by_topic) == {"dwd_even", "dwd_odd"}
    assert by_topic["dwd_even"] == orders.filter("o_orderkey % 2 = 0").count()
    # the routing column must NOT leak into the JSON payload
    assert "sink_topic" not in wire.select("value").first().value


def test_kafka_wire_format_roundtrip_fixed_topic(spark):
    """Fixed-topic tier (MyKafkaUtil.java:25-27): every record lands on the
    configured topic and the payload packs ALL columns."""
    from pyspark.sql import types as T

    from flinkproject_spark.sources import kafka

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, v string"
    )
    wire = sinks.kafka_value_frame(df, topic="dwd_fixed")
    raw = wire.select(
        F.col("value").cast("binary").alias("value"),
        "topic",
        F.current_timestamp().alias("timestamp"),
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    _reader, parse = kafka.json_topic(spark, "unused", schema)
    out = parse(raw).select("id", "v").orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "a"), (2, "b")]
    assert wire.select("topic").distinct().collect()[0].topic == "dwd_fixed"


# --- A9 stream-static enrichment + A8 two-stream interval join -------------

@pytest.fixture(scope="module")
def orders_staged(spark, sf_dir, tmp_path_factory):
    orders = catalog.load_table(spark, sf_dir, "orders")
    path = str(tmp_path_factory.mktemp("replay") / "orders")
    replay.stage_replay(orders, path, order_col="o_orderdate", tiebreak="o_orderkey",
                        chunks=6, heartbeat_keys=("o_orderkey", "o_custkey"))
    return path


def test_province_stats_stream_static_matches_batch(spark, sf_dir, orders_staged):
    customer = catalog.load_table(spark, sf_dir, "customer")
    nation = catalog.load_table(spark, sf_dir, "nation")
    got = replay.run_to_table(
        jobs.province_stats_stream(_stream(spark, orders_staged), customer, nation)
    )
    want = windows.province_stats(
        catalog.load_table(spark, sf_dir, "orders"), customer, nation
    )
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_dim_update_mid_replay_visible_next_batch(spark, sf_dir, tmp_path_factory):
    """B6/B8 dim freshness — the reference invalidates the Redis cache when a
    dim row changes (app/function/DimSinkFunction.java:49-51), so the NEXT
    enrichment lookup sees the update. Spark analog under test:
    sinks.dim_enriching_writer re-reads the dim snapshot inside foreachBatch,
    so an upsert_parquet landing between micro-batches is reflected in the
    very next batch's enrichment (and batches before the upsert keep the old
    value — no retroactive rewrite)."""
    base = tmp_path_factory.mktemp("dimfresh")
    dim_path, out_path, stage_path = (
        str(base / "dim"), str(base / "out"), str(base / "orders"),
    )
    customer = catalog.load_table(spark, sf_dir, "customer")
    routing.upsert_parquet(
        customer.select("c_custkey", "c_name"), dim_path, pk="c_custkey"
    )

    orders = catalog.load_table(spark, sf_dir, "orders")
    replay.stage_replay(
        orders, stage_path, order_col="o_orderdate", tiebreak="o_orderkey",
        chunks=2, heartbeat_keys=(),
    )
    # a customer ordering in BOTH micro-batches, so both dim versions get probed
    c0 = spark.read.parquet(f"{stage_path}/00000.parquet").select("o_custkey")
    c1 = spark.read.parquet(f"{stage_path}/00001.parquet").select("o_custkey")
    shared = int(c0.intersect(c1).orderBy("o_custkey").first()[0])
    orig_name = customer.filter(F.col("c_custkey") == shared).first()["c_name"]

    enrich = sinks.dim_enriching_writer(
        out_path, dim_path, on=("o_custkey", "c_custkey")
    )

    def fn(batch, batch_id):
        enrich(batch, batch_id)
        if batch_id == 0:  # the mid-replay dim update (a CDC writer racing us)
            routing.upsert_parquet(
                spark.createDataFrame(
                    [(shared, "UPDATED-NAME")], "c_custkey bigint, c_name string"
                ),
                dim_path,
                pk="c_custkey",
            )

    q = (
        replay.read_replay(spark, stage_path)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    out = spark.read.parquet(out_path)
    assert out.count() == orders.count()  # every order enriched exactly once
    assert sorted(r[0] for r in out.select("batch_id").distinct().collect()) == [0, 1]
    by_batch = {
        r.batch_id: r.c_name
        for r in out.filter(F.col("o_custkey") == shared)
        .select("batch_id", "c_name").distinct().collect()
    }
    assert by_batch[0] == orig_name        # pre-upsert batch: old value
    assert by_batch[1] == "UPDATED-NAME"   # first post-upsert batch: fresh value
    # untouched keys still enrich to the original dim in batch 1
    others = (
        out.filter((F.col("batch_id") == 1) & (F.col("o_custkey") != shared))
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), F.col("c_name").alias("want")
            ),
            "o_custkey",
        )
    )
    assert others.filter(F.col("c_name") != F.col("want")).count() == 0


def test_interval_join_two_streams_matches_batch(spark, sf_dir, orders_staged, tmp_path_factory):
    lineitem = catalog.load_table(spark, sf_dir, "lineitem")
    li_path = str(tmp_path_factory.mktemp("replay") / "lineitem")
    replay.stage_replay(lineitem, li_path, order_col="l_shipdate", tiebreak="l_orderkey",
                        chunks=6, heartbeat_keys=("l_orderkey",))
    from flinkproject_spark.operators.joins import interval_join_orders_lineitem

    got = replay.run_to_table(
        jobs.interval_join_stream(_stream(spark, orders_staged), _stream(spark, li_path))
    ).filter("o_orderkey != -1")
    want = interval_join_orders_lineitem(
        catalog.load_table(spark, sf_dir, "orders"), lineitem
    )
    cols = ["o_orderkey", "l_linenumber", "l_partkey", "order_price", "sku_num"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


# --- A20 SQL over a streaming dynamic table ---------------------------------

def test_sql_over_stream_matches_batch_sql(spark, events, staged):
    got = replay.run_to_table(jobs.sql_visitor_stats_stream(_stream(spark, staged)))
    events.createOrReplaceTempView("events_batch")
    want = spark.sql("""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end,   'yyyy-MM-dd HH:mm:ss') AS edt,
               event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uv_ct,
               COUNT(*) AS pv_ct,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
        FROM events_batch
        GROUP BY window(ts, '10 minutes'), event_type
    """)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_gopher_gate_streams_stateless(spark, sf_dir, tmp_path):
    """The Gopher rule gate is a stateless projection: the SAME operator
    runs on a streaming frame (scrub/filter-on-ingest hop) and must emit
    exactly the batch verdicts."""
    from flinkproject_spark.operators import text as text_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs")
    docs.coalesce(2).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = replay.run_to_table(text_ops.gopher_quality_flags(stream))
    want = text_ops.gopher_quality_flags(docs)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_redact_pii_streams_stateless(spark, sf_dir, tmp_path):
    """PII scrubbing on a live ingest stream: redact_pii is a stateless
    projection, so the SAME operator (not a twin) runs on the streaming
    frame — zero state, no watermark needed — and must emit exactly the
    batch result. This is the shape of a production scrub-on-ingest hop."""
    from flinkproject_spark.operators import text as text_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs")
    docs.coalesce(2).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = replay.run_to_table(text_ops.redact_pii(text_ops.seed_pii(stream)))
    want = text_ops.redact_pii(text_ops.seed_pii(docs))
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


# --- checkpoint recovery: stop mid-replay, restart, exactly-once output ----

def test_stateful_ops_under_rocksdb_state_store(spark, events, staged, tmp_path_factory):
    """The production state-backend posture (VERDICT r03 #8): the same
    applyInPandasWithState operators run unchanged on Spark's bundled
    RocksDB state store provider (SPARK_GRAFT_STATE_STORE=rocksdb wires it
    into the session factory; here the runtime conf is set directly so one
    session exercises both providers). Timer + state round-trip semantics
    must be provider-independent: bounce (event-time timers, JSON-free
    tuple state) replayed under RocksDB == the oracle-checked batch twin."""
    from flinkproject_spark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
        got = replay.run_to_table(stateful.detect_bounces_stream(wm))
        want = state.detect_bounces(events)
        cols = want.columns
        assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
        # and the r05 trailing-deque operator (string-encoded deque state,
        # day-close timers) — provider-independence is per-operator, so the
        # newest state shape gets its own RocksDB pass
        from flinkproject_spark.operators import analytics

        et_path = str(tmp_path_factory.mktemp("replay_rocks_et") / "events")
        replay.stage_replay(
            events, et_path, chunks=4, heartbeat_keys=("user_id", "event_type")
        )
        wm2 = jobs.watermarked_events(
            replay.read_replay(spark, et_path), delay="1 minute"
        )
        got2 = replay.run_to_table(stateful.daily_anomalies_stream(wm2))
        want2 = analytics.daily_anomalies(events)
        cols2 = want2.columns
        assert _sorted_rows(got2, cols2) == _sorted_rows(want2, cols2)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_state_store_env_flag_selects_rocksdb(monkeypatch):
    from flinkproject_spark import session as sess

    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE", raising=False)
    assert sess.state_store_conf() == {}
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    assert sess.state_store_conf() == {
        "spark.sql.streaming.stateStore.providerClass": sess.ROCKSDB_PROVIDER
    }


def _two_phase_recovery(spark, staged_dir, tmp_path, build_query):
    """Shared stop/restart scaffold: deliver the first half of the staged
    chunks, run `build_query(stream)` to completion (checkpointing state),
    deliver the rest, run again from the SAME checkpoint; returns the
    accumulated parquet sink as a DataFrame. mtimes are spaced explicitly
    because the file source orders by modification time — fast copies
    collide on mtime and can reorder the heartbeat before the last chunk,
    which would (correctly!) drop that chunk as late data."""
    import shutil
    import time as _time

    part1 = str(tmp_path / "part1")
    os.makedirs(part1)
    files = sorted(f for f in os.listdir(staged_dir) if f.endswith(".parquet"))

    def arrive(names, t0):
        for i, f in enumerate(names):
            dst = f"{part1}/{f}"
            shutil.copy(f"{staged_dir}/{f}", dst)
            os.utime(dst, (t0 + i, t0 + i))

    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        q = (
            build_query(replay.read_replay(spark, part1))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    arrive(files[:4], _time.time() - 100)
    run_once()  # consumes first half, checkpoints state
    arrive(files[4:], _time.time())  # the rest arrives "later"
    run_once()  # must resume, not reprocess
    return spark.read.parquet(sink)


def test_stateful_query_recovers_from_checkpoint(spark, events, staged, tmp_path):
    """The reference leaves checkpointing commented out (FlinkCDC.java:22-30);
    this engine treats it as table stakes: a stateful query stopped after a
    partial replay and restarted from its checkpoint must neither lose nor
    duplicate output. The file source records processed files and the state
    store snapshots keyed state per micro-batch, so the second run resumes
    with the first run's state."""
    got = _two_phase_recovery(
        spark, staged, tmp_path,
        lambda s: stateful.unique_visits_stream(
            jobs.watermarked_events(s, delay="1 minute")
        ),
    )
    want = state.unique_visits(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_daily_anomalies_stream_recovers_from_checkpoint(spark, events, tmp_path):
    """Stop/restart for the r05 trailing-deque operator: its string-encoded
    state (closed-day deque, open-day map, last-closed watermark) must
    round-trip through the state store so the resumed run closes the
    remaining days against the FIRST run's history — exact batch parity,
    no lost or duplicated day rows."""
    staged_et = str(tmp_path / "staged")
    replay.stage_replay(
        events, staged_et, chunks=8, heartbeat_keys=("user_id", "event_type")
    )
    got = _two_phase_recovery(
        spark, staged_et, tmp_path,
        lambda s: stateful.daily_anomalies_stream(
            jobs.watermarked_events(s, delay="1 minute")
        ),
    )
    from flinkproject_spark.operators import analytics

    want = analytics.daily_anomalies(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


# --- B2/B5 exactly-once output: batchId-idempotent sink under replay --------

def test_idempotent_sink_no_double_write_on_replay(spark, events, staged, tmp_path):
    """Crash-after-write-before-commit simulation: run the stream to
    completion, delete the newest checkpoint commit marker (the write
    happened, the commit didn't), restart. Structured Streaming re-delivers
    that micro-batch with the SAME batch id and contents; the batchId-keyed
    idempotent writer must overwrite its own output rather than append a
    duplicate — the engine's answer to the reference's transactional Kafka
    producer (MyKafkaUtil.java:29-38)."""
    base = str(tmp_path / "idem")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")
    calls: list[int] = []  # foreachBatch runs on the driver

    idem = sinks.idempotent_parquet_writer(base)

    def fn(batch, batch_id):
        calls.append(batch_id)
        idem(batch, batch_id)
        batch.write.mode("append").parquet(audit)  # naive sink, for contrast

    def run():
        q = (
            replay.read_replay(spark, staged)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()

    run()
    total = events.count() + 1  # + heartbeat sentinel row
    assert spark.read.parquet(base).count() == total
    first_run_calls = list(calls)

    last_commit = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )[-1]
    os.remove(f"{ckpt}/commits/{last_commit}")
    crc = f"{ckpt}/commits/.{last_commit}.crc"  # stale checksum blocks re-commit
    if os.path.exists(crc):
        os.remove(crc)
    run()

    replayed = calls[len(first_run_calls):]
    assert int(last_commit) in replayed  # the batch really was re-delivered
    # idempotent sink: exact original contents, no duplicates
    got = spark.read.parquet(base)
    assert got.count() == total
    want = {r.event_id for r in events.collect()}
    got_ids = [r.event_id for r in replay.drop_heartbeats(got).collect()]
    assert len(got_ids) == len(want) and set(got_ids) == want
    # the naive append sink double-wrote the replayed batch — the contrast
    # that proves the replay carried rows
    assert spark.read.parquet(audit).count() > total


# --- streaming observability (df.observe) ------------------------------------

def test_observed_metrics_surface_in_query_progress(spark, events, staged, tmp_path):
    src = jobs.with_input_metrics(_stream(spark, staged))
    out = windows.visitor_stats(jobs.watermarked_events(src))
    name = "obs_probe"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    totals = {"n_rows": 0, "n_heartbeats": 0}
    assert q.awaitTermination(180)
    for p in q.recentProgress:
        om = p["observedMetrics"].get("input_metrics") if p.get("observedMetrics") else None
        if om:
            totals["n_rows"] += om["n_rows"]
            totals["n_heartbeats"] += om["n_heartbeats"]
    assert totals["n_rows"] == events.count() + 1
    assert totals["n_heartbeats"] == 1


# --- steady-state incremental dedup ingestion --------------------------------

def test_decontaminating_sink_matches_batch_scores(spark, sf_dir, tmp_path):
    """Documents streamed through the decontaminating sink against a
    persisted benchmark shingle set: corpus + quarantine must partition
    the input exactly as the batch contamination_check would (same
    threshold, same per-doc scores), with nothing silently dropped."""
    from flinkproject_spark.operators import dedup as dedup_ops
    from flinkproject_spark.operators.text import with_tokens

    docs = catalog.load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    bench_sh_path = str(tmp_path / "bench_sh")
    dedup_ops._shingle_rows(with_tokens(bench), 3).select("sh").distinct().write.parquet(
        bench_sh_path
    )
    src = str(tmp_path / "src")
    train.coalesce(2).write.parquet(src)
    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.decontaminating_writer(corpus, bench_sh_path, max_contamination=0.2)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    want = {
        r.doc_id: r.contamination_pct
        for r in dedup_ops.contamination_check(train, bench).collect()
    }
    admitted = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    quarantined = {
        r.doc_id: r.contamination_pct
        for r in spark.read.parquet(f"{corpus}_quarantine").collect()
    }
    assert admitted == {d for d, p in want.items() if p <= 0.2}
    assert set(quarantined) == {d for d, p in want.items() if p > 0.2}
    assert quarantined == {d: p for d, p in want.items() if p > 0.2}  # scores carried
    assert admitted | set(quarantined) == {r.doc_id for r in train.select("doc_id").collect()}


def test_bloom_decontaminating_sink_matches_batch_scores(spark, sf_dir, tmp_path):
    """Documents streamed through the BLOOM decontaminating sink against a
    persisted position set: corpus + quarantine must partition the input
    exactly as the batch bloom_contamination_check would (same filter,
    same per-doc scores), nothing silently dropped — streaming-vs-batch
    parity for the constant-size-probe tier."""
    from flinkproject_spark.operators import dedup as dedup_ops
    from flinkproject_spark.operators.text import with_tokens

    docs = catalog.load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    pos_path = str(tmp_path / "bench_pos")
    dedup_ops.bloom_positions(
        dedup_ops._shingle_rows(with_tokens(bench), 3).select("sh")
    ).write.parquet(pos_path)
    src = str(tmp_path / "src")
    train.coalesce(2).write.parquet(src)
    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.bloom_decontaminating_writer(corpus, pos_path, max_flagged=0.2)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    want = {
        r.doc_id: r.flagged_pct
        for r in dedup_ops.bloom_contamination_check(train, bench).collect()
    }
    admitted = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    quarantined = {
        r.doc_id: r.flagged_pct
        for r in spark.read.parquet(f"{corpus}_quarantine").collect()
    }
    assert admitted == {d for d, p in want.items() if p <= 0.2}
    assert quarantined == {d: p for d, p in want.items() if p > 0.2}  # scores carried
    assert admitted | set(quarantined) == {r.doc_id for r in train.select("doc_id").collect()}
    # bloom-vs-exact: the bloom sink never ADMITS a doc the exact tier quarantines
    exact = {
        r.doc_id: r.contamination_pct
        for r in dedup_ops.contamination_check(train, bench).collect()
    }
    assert not {d for d, p in exact.items() if p > 0.2} & admitted


def test_srp_incremental_sink_admits_near_dup_free_corpus(spark, sf_dir, tmp_path):
    """Embeddings streamed in vec_id order with exact twins injected
    across AND within chunks: every later twin must be rejected, and the
    admitted corpus must satisfy the sink's invariant — no two admitted
    vectors verify >= threshold through a shared SRP band bucket."""
    from flinkproject_spark.operators import dedup as dedup_ops

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    base = emb.limit(120).localCheckpoint(eager=True)
    # twins of vecs 0-2 land in a LATER chunk (ids 900000+), a twin of
    # vec 5 lands in the SAME chunk (id 6000, still first chunk range)
    twins_later = base.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding", "label"
    )
    twin_same = base.filter(F.col("vec_id") == 5).select(
        F.lit(6000).alias("vec_id"), "embedding", "label"
    )
    allv = base.unionByName(twins_later).unionByName(twin_same)
    src = str(tmp_path / "src")
    os.makedirs(src)
    import shutil
    import time as _time

    t0 = _time.time() - 100
    chunks = [allv.filter(F.col("vec_id") <= 6000),
              allv.filter((F.col("vec_id") > 6000) & (F.col("vec_id") < 900_000)),
              allv.filter(F.col("vec_id") >= 900_000)]
    for i, c in enumerate(chunks):
        part = str(tmp_path / f"p{i}")
        c.coalesce(1).write.mode("overwrite").parquet(part)
        pf = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = f"{src}/{i:03d}.parquet"
        shutil.move(os.path.join(part, pf), dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    corpus = str(tmp_path / "corpus")
    sig_index = str(tmp_path / "sigidx")
    stream = (
        spark.readStream.schema(allv.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.srp_incremental_writer(corpus, sig_index, threshold=0.999)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(corpus)
    ids = {r.vec_id for r in got.select("vec_id").collect()}
    assert {900_000, 900_001, 900_002, 6000}.isdisjoint(ids)  # twins rejected
    assert {0, 1, 2, 5} <= ids  # originals admitted
    # invariant: admitted corpus is near-dup-free under the same detector
    assert dedup_ops.srp_lsh_near_dups(got, threshold=0.999).count() == 0
    # index holds exactly the admitted signatures (4 bands each)
    assert spark.read.parquet(sig_index).count() == len(ids) * 4


def test_incremental_dedup_sink_admits_exactly_the_keepers(spark, sf_dir, tmp_path):
    """Documents streamed in doc_id order through the incremental-dedup
    sink: the admitted corpus must equal the batch exact-dedup keeper set
    (first occurrence wins across batches AND within a batch), and the
    index must hold one hash per distinct content."""
    import shutil
    import time as _time

    from flinkproject_spark.operators import dedup as dedup_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    os.makedirs(src)
    n = docs.count()
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[0], ids[n // 3], ids[2 * n // 3], ids[-1] + 1]
    t0 = _time.time() - 100
    for i in range(3):
        part_dir = str(tmp_path / f"part{i}")
        docs.filter(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(part_dir)
        pf = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = f"{src}/{i:03d}.parquet"
        shutil.move(os.path.join(part_dir, pf), dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.incremental_dedup_writer(corpus, index)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(corpus)
    want = {r.keeper_id for r in dedup_ops.exact_dedup(docs).collect()}
    assert {r.doc_id for r in got.select("doc_id").collect()} == want
    idx = spark.read.parquet(index)
    assert idx.count() == idx.distinct().count() == len(want)


def test_span_incremental_single_batch_matches_batch_operator(spark, sf_dir, tmp_path):
    """One-batch run of the span sink == the batch detector row-for-row:
    within a batch the matching is symmetric, so the incremental form
    must reproduce duplicated_spans exactly (spans AND nd multiplicity)."""
    from flinkproject_spark.operators import dedup as dedup_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    spans = str(tmp_path / "spans")
    index = str(tmp_path / "gramidx")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            sinks.span_incremental_writer(index, spans)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = {tuple(r) for r in sinks.read_batch_log(spark, spans).collect()}
    want = {tuple(r) for r in dedup_ops.duplicated_spans(docs).collect()}
    assert got == want
    # index holds one row per distinct (doc, gram hash)
    idx = spark.read.parquet(index)
    assert idx.count() == idx.distinct().count()


def test_span_incremental_is_one_sided_across_batches(spark, tmp_path):
    """Batch 1 ingests unique docs (no spans, index populated); batch 2
    brings a doc repeating a 12-token block from batch 1 — exactly that
    doc gets exactly that span; the earlier doc is never retroactively
    annotated and the batch-2 unique doc stays clean."""
    import shutil
    import time as _time

    block = " ".join(f"s{i}" for i in range(12))
    b0 = spark.createDataFrame(
        [
            (1, block + " " + " ".join(f"a{i}" for i in range(6)), "en"),
            (2, " ".join(f"b{i}" for i in range(20)), "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    b1 = spark.createDataFrame(
        [
            (3, " ".join(f"c{i}" for i in range(3)) + " " + block + " "
             + " ".join(f"d{i}" for i in range(5)), "en"),
            (4, " ".join(f"e{i}" for i in range(20)), "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = _time.time() - 100
    for i, b in enumerate((b0, b1)):
        part = str(tmp_path / f"p{i}")
        b.coalesce(1).write.mode("overwrite").parquet(part)
        pf = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = f"{src}/{i:03d}.parquet"
        shutil.move(os.path.join(part, pf), dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    spans = str(tmp_path / "spans")
    index = str(tmp_path / "gramidx")
    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.span_incremental_writer(index, spans)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = [tuple(r) for r in sinks.read_batch_log(spark, spans).collect()]
    # doc 3's block sits at token offset 3; w=8 windows fully inside a
    # 12-token block start at 3..7 -> span (start 3, len 12, 5 grams),
    # shared with exactly one other doc
    assert got == [(3, 3, 12, 5, 2)]

    # crash-replay idempotency (ADVICE r07): re-running the LAST batch
    # under its checkpointed batch_id appends byte-identical rows that
    # read_batch_log collapses — the served annotations are unchanged
    writer = sinks.span_incremental_writer(index, spans)
    last_bid = (
        spark.read.parquet(spans).agg(F.max("batch_id")).first()[0]
    )
    writer(b1, int(last_bid))
    replayed = [tuple(r) for r in sinks.read_batch_log(spark, spans).collect()]
    assert replayed == [(3, 3, 12, 5, 2)]

    # re-ingest hygiene: replaying batch 1's docs under a NEW batch id
    # must not grow the gram index (anti-join dedupe) nor self-match the
    # re-ingested doc
    n_idx = spark.read.parquet(index).count()
    writer(b1, 99)
    assert spark.read.parquet(index).count() == n_idx
    again = [tuple(r) for r in sinks.read_batch_log(spark, spans).collect()]
    # doc 3 re-emits its span under batch 99 (its content still repeats
    # doc 1's block — the self-match guard only suppresses matching a
    # doc to ITSELF; a distinct batch_id is a real second ingest event)
    assert sorted(again) == [(3, 3, 12, 5, 2), (3, 3, 12, 5, 2)]


def test_jsonl_corpus_streaming_split_equals_batch(spark, tmp_path):
    """The JSONL source's projection is trigger-agnostic by claim
    (sources/jsonl.py): the same parse over readStream.text must produce
    the identical clean/dirty partition the batch read does, across
    multiple triggers."""
    from flinkproject_spark.sources import jsonl

    lines_a = [
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}',
        'broken {{{',
    ]
    lines_b = [
        '{"doc_id": 2, "text": "ok", "lang": "fr", "source": "book"}',
        '{"doc_id": null, "text": "orphan"}',
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text("\n".join(lines_a))
    (src / "b.jsonl").write_text("\n".join(lines_b))

    b_clean, b_dirty = jsonl.read_jsonl_corpus(spark, str(src))
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    s_clean, s_dirty = jsonl.parse_jsonl_corpus(stream)
    # two availableNow queries, one per side of the split
    for name, sdf in (("clean_t", s_clean), ("dirty_t", s_dirty)):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    sc = spark.sql("SELECT * FROM clean_t")
    sd = spark.sql("SELECT * FROM dirty_t")
    assert sorted(map(tuple, sc.collect())) == sorted(map(tuple, b_clean.collect()))
    assert sorted(map(tuple, sd.collect())) == sorted(map(tuple, b_dirty.collect()))


def test_cms_incremental_counters_merge_and_survive_replay(spark, sf_dir, tmp_path):
    """Streaming CMS == batch CMS under crash replay: events streamed in
    three chunks with the FIRST batch's foreachBatch deliberately
    re-invoked (simulating a retry after a crash-before-checkpoint), the
    merged counter table must equal the one-shot batch sketch exactly —
    the dedup-on-read collapses the replayed deltas."""
    from flinkproject_spark import functions as K
    from flinkproject_spark.operators import relational

    events = catalog.load_table(spark, sf_dir, "events")
    chunks = [
        events.filter(F.pmod("event_id", F.lit(3)) == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    counters_path = str(tmp_path / "cms")
    fn = sinks.delta_log_writer(counters_path, relational.cms_counters)
    fn(chunks[0], 0)
    fn(chunks[0], 0)  # replayed batch: same id, same deterministic deltas
    fn(chunks[1], 1)
    fn(chunks[2], 2)

    merged = {
        (r.i, r.bucket): r.c
        for r in sinks.read_delta_log(
            spark, counters_path, ["i", "bucket"], F.sum
        ).collect()
    }
    # one-shot batch sketch over the full table (rebuild the counter
    # table the same way the operator does internally)
    keys = events.select(F.col("user_id").cast("string").alias("key"))
    hashed = keys.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).withColumn(
        "bucket",
        F.pmod(
            K.hash64(F.concat(F.lit("cms:"), F.col("i").cast("string"),
                              F.lit(":"), F.col("key"))),
            F.lit(256),
        ),
    )
    want = {
        (r.i, r.bucket): r.c
        for r in hashed.groupBy("i", "bucket").agg(F.count("*").alias("c")).collect()
    }
    assert merged == want
    # and the merged counters price the same estimates the batch report
    # emits for the top keys
    report = relational.cms_frequency_report(events).collect()
    for r in report:
        est = min(
            merged[(i, b)]
            for i, b in (
                (i, int(__import__("hashlib").md5(
                    f"cms:{i}:{r.user_id}".encode()).hexdigest()[:15], 16) % 256)
                for i in range(4)
            )
        )
        assert est == r.cms_est


# --- late-data semantics (SURVEY §2E): eviction-based late drop -------------

def test_late_data_semantics_eviction_based(spark, tmp_path):
    """The reference relies on Flink defaults: watermark-late events vanish
    from windowed aggs (SURVEY §2 E). Pin the engine's guarantees for
    append mode once the watermark has committed past a region:

    - a late row for an already-finalized window is dropped — append mode
      never re-emits or updates an emitted window;
    - a late row opening a fresh window below the committed watermark is
      dropped too (matching Flink's drop-late default). NB: Spark commits
      the watermark with a one-batch lag, so a "late" row landing in the
      very first batch after the events that *would* advance the watermark
      can still be aggregated — the cutoff is the batch-start watermark,
      not the instantaneous max-event-time.
    """
    import shutil
    import time as _time

    schema = "event_id long, ts_s string, user_id long, event_type string, value double"
    on_time = [(i, f"2024-01-01 10:{m:02d}:00", 1, "view", 1.0) for i, m in enumerate(range(0, 50, 5))]
    tail1 = [(50, "2024-01-01 11:00:00", 1, "view", 1.0)]   # wm -> 10:50: evicts all 10:xx windows
    late_dup = [(100, "2024-01-01 10:02:00", 1, "view", 1.0)]  # window 10:00 already emitted
    late_fresh = [(101, "2024-01-01 09:00:00", 1, "view", 1.0)]  # fresh below-wm window
    tail2 = [(102, "2024-01-01 11:30:00", 1, "view", 1.0)]

    def write_file(data, name):
        df = spark.createDataFrame(data, schema).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value"
        )
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(f"{tmp}/{part}", str(tmp_path / "stream" / name))

    os.makedirs(tmp_path / "stream")
    write_file(on_time, "00000.parquet")
    write_file(tail1, "00001.parquet")
    write_file(late_dup + late_fresh + tail2, "00002.parquet")
    for i, f in enumerate(sorted(os.listdir(tmp_path / "stream"))):
        os.utime(str(tmp_path / "stream" / f), (_time.time() - 100 + i * 10,) * 2)

    stream = replay.read_replay(spark, str(tmp_path / "stream"))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("ct"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "ct")
    )
    rows = replay.run_to_table(agg).collect()
    got: dict[str, list[int]] = {}
    for r in rows:
        got.setdefault(r.w, []).append(r.ct)
    # on-time windows emitted once with on-time counts only: the late 10:02
    # row must NOT produce a duplicate/updated 10:00 window
    assert got["10:00"] == [2] and got["10:40"] == [2]
    # the fresh below-watermark window is dropped (Flink drop-late parity;
    # the watermark committed two batches earlier)
    assert "09:00" not in got
    # the final tail's window never closes
    assert "11:30" not in got


def test_late_capture_side_channel_quantifies_drops(spark, tmp_path):
    """VERDICT r05 #6: the opt-in late-rows capture. Same 3-file replay as
    test_late_data_semantics_eviction_based; a second query wrapped in
    late_capture_writer must capture EXACTLY the rows the windowed agg
    dropped (the already-final 10:02 row and the fresh below-watermark
    09:00 row), tagged with the watermark they missed — and the
    dropped-vs-captured accounting must close: agg-emitted + captured +
    never-closed tail == total input rows."""
    import shutil
    import time as _time

    schema = "event_id long, ts_s string, user_id long, event_type string, value double"
    on_time = [(i, f"2024-01-01 10:{m:02d}:00", 1, "view", 1.0) for i, m in enumerate(range(0, 50, 5))]
    tail1 = [(50, "2024-01-01 11:00:00", 1, "view", 1.0)]
    late_dup = [(100, "2024-01-01 10:02:00", 1, "view", 1.0)]
    late_fresh = [(101, "2024-01-01 09:00:00", 1, "view", 1.0)]
    tail2 = [(102, "2024-01-01 11:30:00", 1, "view", 1.0)]

    def write_file(data, name):
        df = spark.createDataFrame(data, schema).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value"
        )
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(f"{tmp}/{part}", str(tmp_path / "stream" / name))

    os.makedirs(tmp_path / "stream")
    write_file(on_time, "00000.parquet")
    write_file(tail1, "00001.parquet")
    write_file(late_dup + late_fresh + tail2, "00002.parquet")
    for i, f in enumerate(sorted(os.listdir(tmp_path / "stream"))):
        os.utime(str(tmp_path / "stream" / f), (_time.time() - 100 + i * 10,) * 2)

    # query 1: the windowed agg (drops late rows silently)
    stream = replay.read_replay(spark, str(tmp_path / "stream"))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("ct"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "ct")
    )
    emitted = replay.run_to_table(agg).collect()

    # query 2: same source, late-capture side channel
    late_path = str(tmp_path / "late")
    q = (
        replay.read_replay(spark, str(tmp_path / "stream"))
        .writeStream.foreachBatch(
            sinks.late_capture_writer("ts", "10 minutes", late_path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    captured = spark.read.parquet(late_path).collect()
    assert {r.event_id for r in captured} == {100, 101}
    assert all(
        r.missed_watermark.strftime("%H:%M") == "10:50" and r.late_batch_id == 2
        for r in captured
    )
    # accounting closes: every input row is emitted-in-a-window, captured
    # late, or in the never-closed final window (11:30 pushed the final
    # watermark to 11:20, closing [11:00,11:10) but not its own window)
    total_in = len(on_time) + len(tail1) + len(late_dup) + len(late_fresh) + len(tail2)
    emitted_rows = sum(r.ct for r in emitted)
    never_closed = 1  # event 102 (11:30)
    assert emitted_rows + len(captured) + never_closed == total_in


def test_late_capture_watermark_survives_writer_restart(spark, tmp_path):
    """The late-capture side channel's reconstructed watermark is
    restart-safe: a FRESH writer (new closure, as after a driver restart)
    must resume the previous run's max event time from the sidecar file
    and still capture a late row in its first batch — the case a
    memory-only state would silently wave through."""
    late_path = str(tmp_path / "late")

    def mk_batch(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts_s string"
        ).select("event_id", F.to_timestamp("ts_s").alias("ts"))

    w1 = sinks.late_capture_writer("ts", "10 minutes", late_path)
    w1(mk_batch([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00")]), 0)

    # restart: brand-new closure, no in-memory state
    w2 = sinks.late_capture_writer("ts", "10 minutes", late_path)
    w2(mk_batch([(3, "2024-01-01 09:00:00"),     # late vs resumed wm 10:50
                 (4, "2024-01-01 11:30:00")]), 1)

    captured = spark.read.parquet(late_path).collect()
    assert {r.event_id for r in captured} == {3}
    assert captured[0].missed_watermark.strftime("%H:%M") == "10:50"
    # and the sidecar advanced to the new max
    with open(late_path + ".wm") as fh:
        assert fh.read().startswith("2024-01-01T11:30:00")


# --- session windows: streaming == batch ------------------------------------

def test_session_stats_stream_matches_batch(spark, events, staged):
    got = replay.run_to_table(jobs.session_stats_stream(_stream(spark, staged)))
    want = windows.session_stats(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_product_stats_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    lineitem = catalog.load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path_factory.mktemp("replay") / "li_ps")
    replay.stage_replay(lineitem, path, order_col="l_shipdate", tiebreak="l_orderkey",
                        chunks=6, heartbeat_keys=("l_orderkey", "l_partkey"))
    got = replay.run_to_table(jobs.product_stats_stream(_stream(spark, path)))
    want = windows.product_stats(lineitem)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_routing_config_refreshes_per_microbatch(spark, tmp_path):
    """A15 dynamic config: a rule added while the query runs takes effect
    from the next micro-batch (the broadcast-config refresh semantics,
    SURVEY §7 delta #6)."""
    from flinkproject_spark.operators.routing import RouteRule

    orders = catalog.load_table(spark, "/root/testdata/sf0.001", "orders")
    env = orders.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("orders").alias("tableName"),
                F.create_map(
                    F.lit("o_orderkey"), F.col("o_orderkey").cast("string"),
                    F.lit("o_totalprice"), F.col("o_totalprice").cast("string"),
                ).alias("after"),
                F.lit("insert").alias("type"),
            )
        ).alias("value"),
        F.col("o_orderkey").alias("event_id"),
    )
    staged = str(tmp_path / "cdc")
    replay.stage_replay(env, staged, order_col="event_id", tiebreak="event_id",
                        chunks=4, heartbeat_keys=())
    decoded = routing.decode_cdc_envelope(replay.read_replay(spark, staged).drop("event_id"))

    v1 = (RouteRule("orders", "insert", "kafka", "sink_v1", ("o_orderkey",)),)
    v2_rule = RouteRule("orders", "insert", "kafka", "sink_v2", ("o_orderkey", "o_totalprice"))
    calls = {"n": 0}

    def provider():
        calls["n"] += 1
        return v1 if calls["n"] == 1 else v1 + (v2_rule,)

    base = str(tmp_path / "sinks")
    q = sinks.start_routed_cdc_sink(decoded, base, rules=provider,
                                    checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    total = orders.count()
    v1_ct = spark.read.parquet(f"{base}/sink_v1").count()
    v2_ct = spark.read.parquet(f"{base}/sink_v2").count()
    assert v1_ct == total                   # routed from batch 0 onward
    assert 0 < v2_ct < total                # only from the second batch on
    assert calls["n"] >= 4                  # provider re-read every batch


# --- end-to-end: ODS json stream -> DWD parse -> DWS windowed stats ---------

def test_end_to_end_log_warehouse_stream(spark, events, tmp_path):
    """The BaseLogApp->VisitorStatsApp chain as ONE streaming pipeline over
    raw JSON: permissive parse (dirty rows filtered), typed projection,
    watermarked windowed aggregation — equal to the identical batch chain.
    The heartbeat is a hand-crafted far-future log row (the embedded ts is
    what the watermark reads, not the staging column)."""
    from flinkproject_spark.sources import logs as logsrc

    raw = logsrc.events_to_log_json(events, corrupt_every=13).join(
        events.select("event_id", "ts"), "event_id"
    )
    hb = spark.createDataFrame(
        [(10**9, '{"common":{"mid":"-1"},"page":{"page_id":"view","during_time":"0"},'
          '"ts":4102444800000}',)],  # 2100-01-01, far past every real window
        "event_id long, value string",
    ).withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
    staged = str(tmp_path / "logs")
    replay.stage_replay(raw.unionByName(hb), staged, order_col="ts",
                        tiebreak="event_id", chunks=6, heartbeat_keys=())

    def typed(clean):
        return clean.select(
            F.col("common")["mid"].cast("bigint").alias("user_id"),
            F.timestamp_millis("ts").alias("ts"),
            F.col("page")["page_id"].alias("event_type"),
            F.col("page")["during_time"].cast("double").alias("value"),
        )

    # streaming chain
    stream = replay.read_replay(spark, staged).select("value")
    s_clean, _ = logsrc.parse_logs(stream)
    got = replay.run_to_table(
        windows.visitor_stats(typed(s_clean).withWatermark("ts", "10 minutes"))
    )
    # identical batch chain (no heartbeat row)
    b_clean, b_dirty = logsrc.parse_logs(raw.select("value"))
    want = windows.visitor_stats(typed(b_clean))
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # dirty channel saw the corrupted rows
    assert b_dirty.count() == events.filter(F.col("event_id") % 13 == 0).count()


def test_sliding_visitor_stats_stream_matches_batch(spark, events, staged):
    got = replay.run_to_table(jobs.sliding_visitor_stats_stream(_stream(spark, staged)))
    want = windows.sliding_visitor_stats(events)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_interval_join_outer_stream_matches_batch(spark, sf_dir, orders_staged, tmp_path_factory):
    lineitem = catalog.load_table(spark, sf_dir, "lineitem")
    li_path = str(tmp_path_factory.mktemp("replay") / "lineitem_outer")
    replay.stage_replay(lineitem, li_path, order_col="l_shipdate", tiebreak="l_orderkey",
                        chunks=6, heartbeat_keys=("l_orderkey",))
    from flinkproject_spark.operators.joins import interval_join_outer

    got = replay.run_to_table(
        jobs.interval_join_outer_stream(_stream(spark, orders_staged), _stream(spark, li_path))
    ).filter("o_orderkey != -1")
    want = interval_join_outer(catalog.load_table(spark, sf_dir, "orders"), lineitem)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_dsir_selecting_sink_matches_batch_scores(spark, sf_dir, tmp_path):
    """[S] Documents replayed through the DSIR-selecting sink against a
    persisted vocab table: corpus + rejected must partition the input
    exactly as batch score_against_vocab would at the same threshold, with
    per-doc scores carried on the reject channel and nothing dropped."""
    from flinkproject_spark.operators import text as text_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    vocab_path = str(tmp_path / "vocab")
    text_ops.dsir_vocab(docs, target_lang="en").write.parquet(vocab_path)
    src = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(src)
    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.dsir_selecting_writer(corpus, vocab_path, min_importance=0.0)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    vocab = spark.read.parquet(vocab_path)
    want = {
        r.doc_id: r.log_importance
        for r in text_ops.score_against_vocab(docs, vocab).collect()
    }
    admitted = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    rejected = {
        r.doc_id: r.log_importance
        for r in spark.read.parquet(f"{corpus}_rejected").collect()
    }
    assert admitted == {d for d, s in want.items() if s >= 0.0}
    assert rejected == {d: s for d, s in want.items() if s < 0.0}  # scores carried
    assert admitted | set(rejected) == set(want)
    # batch-boundary independence: re-ingesting in ONE batch gives the
    # same partition (train-once vocab => score is batch-shape-free)
    corpus2 = str(tmp_path / "corpus2")
    sinks.dsir_selecting_writer(corpus2, vocab_path, min_importance=0.0)(docs, 0)
    admitted2 = {r.doc_id for r in spark.read.parquet(corpus2).select("doc_id").collect()}
    assert admitted2 == admitted


def test_nb_gating_sink_matches_batch_scores(spark, sf_dir, tmp_path):
    """[S] Documents replayed through the NB classifier gate against a
    persisted model table: corpus + rejected must partition the input
    exactly as batch nb_model_score would at the same threshold, with
    per-doc scores carried on the reject channel, nothing dropped, and
    the partition independent of batch shape (fit-once/serve-many — the
    streaming twin of pipeline v5's gate)."""
    from flinkproject_spark.operators import text as text_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    model_path = str(tmp_path / "nb_model")
    text_ops.nb_quality_fit(docs).write.parquet(model_path)
    src = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(src)
    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.nb_gating_writer(corpus, model_path, threshold_ppm=0)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    model = spark.read.parquet(model_path)
    want = {
        r.doc_id: r.nb_score_ppm
        for r in text_ops.nb_model_score(docs, model).collect()
    }
    admitted = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    rejected = {
        r.doc_id: r.nb_score_ppm
        for r in spark.read.parquet(f"{corpus}_rejected").collect()
    }
    assert admitted == {d for d, s in want.items() if s > 0}
    assert rejected == {d: s for d, s in want.items() if s <= 0}  # scores carried
    assert admitted | set(rejected) == set(want)
    # batch-boundary independence: one-shot re-ingest gives the same
    # partition (int64 ppm sums are order- and batch-shape-free)
    corpus2 = str(tmp_path / "corpus2")
    sinks.nb_gating_writer(corpus2, model_path, threshold_ppm=0)(docs, 0)
    admitted2 = {r.doc_id for r in spark.read.parquet(corpus2).select("doc_id").collect()}
    assert admitted2 == admitted


def test_cep_followedby_stream_matches_batch(spark, events, staged):
    """[S] Relaxed-contiguity (followedBy) streaming/batch parity: the
    repeat-purchase pattern replayed through applyInPandasWithState must
    equal the oracle-checked batch form — partial matches now survive
    non-matching events ACROSS micro-batch boundaries, a state-carry path
    strict `next` never exercises."""
    from flinkproject_spark.operators import cep

    steps = ["event_type = 'purchase'", "event_type = 'purchase'"]
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(
        stateful.cep_pattern_stream(
            wm, steps, within_s=7200, contiguity=["followedBy"]
        )
    )
    want = cep.repeat_event_cep(events, "purchase", 7200)
    cols = want.columns
    assert got.count() > 0
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_corpus_profile_streams_stateless(spark, sf_dir, tmp_path):
    """[S] The fused one-pass audit is a stateless projection: the SAME
    operator runs on a streaming ingest frame (profile-on-ingest hop) and
    must emit exactly the batch verdicts for every column at once."""
    from flinkproject_spark.operators import text as text_ops

    docs = catalog.load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs")
    docs.coalesce(2).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = replay.run_to_table(text_ops.corpus_profile(stream))
    want = text_ops.corpus_profile(docs)
    cols = want.columns
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_funnel_windowed_stream_final_state_matches_batch(spark, events, staged):
    """[S] Time-constrained funnel replay: the deadline folds into the
    state machine's slot-fill condition; last emission per user must equal
    the oracle-checked batch funnel_windowed row."""
    from flinkproject_spark.operators import analytics

    out = replay.run_to_table(
        stateful.funnel_stream(_stream(spark, staged), step_window_s=3600),
        output_mode="update",
    )
    pdf = out.toPandas()
    final = (
        pdf.sort_values("funnel_stage").groupby("user_id").tail(1)
        .sort_values("user_id").reset_index(drop=True)
    )
    want = (
        analytics.funnel_windowed(events, step_window_s=3600).toPandas()
        .sort_values("user_id").reset_index(drop=True)
    )
    assert len(final) == len(want)
    for c in ["user_id", "s0_ts", "s1_ts", "s2_ts", "funnel_stage"]:
        assert list(final[c]) == list(want[c]), c


def test_dim_enriching_writer_keeps_shared_name_join_key(spark, tmp_path):
    """Regression: when the stream key and dim pk share a NAME, the writer
    must keep the stream's key column (a string-name drop used to remove
    both copies)."""
    import pandas as pd

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        pd.DataFrame({"sku_id": [1, 2], "name": ["a", "b"]})
    ).write.parquet(dim_path)
    batch = spark.createDataFrame(pd.DataFrame({"sku_id": [1, 2, 3], "qty": [5, 6, 7]}))
    out_path = str(tmp_path / "out")
    sinks.dim_enriching_writer(out_path, dim_path, on=("sku_id", "sku_id"))(batch, 0)
    got = spark.read.parquet(out_path)
    assert "sku_id" in got.columns
    rows = {r.sku_id: r.name for r in got.collect()}
    assert rows == {1: "a", 2: "b", 3: None}


def test_cep_stream_state_ttl_wiring_preserves_results(spark, events, staged):
    """[S] Idle-state TTL eviction (the 10^9-key memory bound): with a TTL
    far above every inter-event gap the emitted pattern results are
    IDENTICAL to the unexpiring run — eviction only forgets gap memory of
    keys idle longer than the TTL, and the cleanup timers must not leak
    spurious emissions."""
    from flinkproject_spark.operators import cep

    steps = ["event_type = 'view'", "event_type = 'click'"]
    wm = jobs.watermarked_events(_stream(spark, staged), delay="1 minute")
    got = replay.run_to_table(
        stateful.cep_pattern_stream(wm, steps, within_s=300, state_ttl_s=10**7)
    )
    want = cep.cep_pattern(events, steps, within_s=300)
    cols = want.columns
    assert got.count() > 0
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_hll_incremental_registers_merge_and_survive_replay(spark, sf_dir, tmp_path):
    """Streaming HLL == batch HLL under crash replay: events streamed in
    three chunks with the first batch re-invoked (retry before checkpoint
    commit). The merged registers, and therefore the estimates, must
    equal the one-shot batch sketch exactly."""
    from flinkproject_spark.operators import relational

    events = catalog.load_table(spark, sf_dir, "events")
    chunks = [
        events.filter(F.pmod("event_id", F.lit(3)) == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    path = str(tmp_path / "hll")
    fn = sinks.delta_log_writer(path, relational.hll_registers)
    fn(chunks[0], 0)
    fn(chunks[0], 0)  # replayed batch: identical register rows, MAX absorbs
    fn(chunks[1], 1)
    fn(chunks[2], 2)

    merged = sinks.read_delta_log(spark, path, ["scope", "reg"], F.max)
    want_regs = {
        (r.scope, r.reg): r.rho for r in relational.hll_registers(events).collect()
    }
    got_regs = {(r.scope, r.reg): r.rho for r in merged.collect()}
    assert got_regs == want_regs
    # estimates from the streamed registers == the batch report's sketch side
    got_est = {
        r.scope: (r.v_empty, r.hll_est)
        for r in relational.hll_estimates(merged).collect()
    }
    want_est = {
        r.scope: (r.v_empty, r.hll_est)
        for r in relational.hll_distinct_report(events).collect()
    }
    assert got_est == want_est


def test_histq_incremental_counters_merge_and_survive_replay(
    spark, sf_dir, tmp_path
):
    """Streaming histogram sketch == batch report under crash replay:
    edges pinned from the full table's true bounds, events streamed in
    three chunks with the first batch re-invoked (retry before
    checkpoint commit) — the merged counters must serve the exact
    quantile rows the one-shot batch report emits (no clamping occurs
    when the pinned edges are the true bounds, so parity is exact)."""
    from flinkproject_spark.operators import relational

    events = catalog.load_table(spark, sf_dir, "events")
    q = F.round(F.col("value").cast("double") * F.lit(1000.0), 0).cast("bigint")
    lo, hi = events.select(F.min(q), F.max(q)).first()
    chunks = [
        events.filter(F.pmod("event_id", F.lit(3)) == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    path = str(tmp_path / "histq")
    fn = sinks.delta_log_writer(
        path, lambda b: relational.histq_bin_deltas(b, lo, hi)
    )
    fn(chunks[0], 0)
    fn(chunks[0], 0)  # replayed batch: identical deltas, dedup-on-read absorbs
    fn(chunks[1], 1)
    fn(chunks[2], 2)

    merged = sinks.read_delta_log(spark, path, ["scope", "bin"], F.sum)
    got = {
        r.scope: (r.n, r.q50_edge, r.q90_edge, r.q99_edge)
        for r in relational.histq_quantiles_from_counters(merged, lo, hi).collect()
    }
    want = {
        r.scope: (r.n, r.q50_edge, r.q90_edge, r.q99_edge)
        for r in relational.histogram_quantile_report(events).collect()
    }
    assert got == want
    # clamping: a value outside the pinned domain lands in an edge bin,
    # never a crash or a phantom bin
    import pyspark.sql.types as T

    schema = chunks[0].schema
    row = chunks[0].limit(1).collect()[0].asDict()
    row["value"] = (hi + 1000) / 1000.0 * 2  # beyond the pinned domain
    extra = spark.createDataFrame([row], schema)
    fn(extra, 3)
    bins = sinks.read_delta_log(spark, path, ["scope", "bin"], F.sum).select(
        "bin"
    ).distinct()
    assert bins.agg(F.max("bin")).first()[0] <= 255


def test_delta_log_compaction_is_invisible_to_readers(spark, sf_dir, tmp_path):
    """Snapshot compaction folds the log into one batch without moving a
    value: for each sketch (CMS sum-merge, histogram sum-merge, Gram
    sum-merge, HLL max-merge), ingest some batches, compact, ingest MORE
    batches, and the reader must return exactly what the uncompacted
    twin returns — while the compacted directory holds one snapshot
    batch plus only the post-compaction deltas."""
    from flinkproject_spark.operators import relational, similarity

    events = catalog.load_table(spark, sf_dir, "events")
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    q = F.round(F.col("value").cast("double") * F.lit(1000.0), 0).cast("bigint")
    lo, hi = events.select(F.min(q), F.max(q)).first()

    def chunked(df, key):
        return [
            df.filter(F.pmod(key, F.lit(4)) == i).localCheckpoint(eager=True)
            for i in range(4)
        ]

    ev_chunks = chunked(events, "event_id")
    sketches = [
        ("cms", relational.cms_counters, ["i", "bucket"], F.sum, ev_chunks),
        ("hq", lambda b: relational.histq_bin_deltas(b, lo, hi),
         ["scope", "bin"], F.sum, ev_chunks),
        ("gr", lambda b: similarity.embedding_gram(b).drop("cov"),
         ["i", "j"], F.sum, chunked(emb, "vec_id")),
        ("hll", relational.hll_registers, ["scope", "reg"], F.max, ev_chunks),
    ]
    for name, delta, keys, merge, chunks in sketches:
        a, b = str(tmp_path / f"{name}_a"), str(tmp_path / f"{name}_b")
        fa, fb = sinks.delta_log_writer(a, delta), sinks.delta_log_writer(b, delta)
        for i in range(2):
            fa(chunks[i], i), fb(chunks[i], i)
        sinks.compact_delta_log(spark, a, keys, merge)
        for i in range(2, 4):
            fa(chunks[i], i), fb(chunks[i], i)
        ga = sorted(map(tuple, sinks.read_delta_log(spark, a, keys, merge).collect()))
        gb = sorted(map(tuple, sinks.read_delta_log(spark, b, keys, merge).collect()))
        assert ga == gb, name
        ids = {
            r.batch_id
            for r in spark.read.parquet(a).select("batch_id").distinct().collect()
        }
        assert ids == {sinks.SNAPSHOT_BATCH_ID, 2, 3}, name


def test_kmeans_assigning_writer_matches_batch_and_survives_replay(
    spark, sf_dir, tmp_path
):
    """Train once -> persist centroids -> assign three streamed chunks
    (first batch replayed): the merged assignment log must equal the
    one-shot batch assignment over the full table, byte for byte."""
    from flinkproject_spark.operators import similarity

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    cent_path = str(tmp_path / "centroids")
    similarity.kmeans_fit(emb).write.parquet(cent_path)

    asg_path = str(tmp_path / "assignments")
    fn = sinks.kmeans_assigning_writer(cent_path, asg_path)
    chunks = [
        emb.filter(F.pmod("vec_id", F.lit(3)) == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    fn(chunks[0], 0)
    fn(chunks[0], 0)  # crash replay: identical rows, same batch_id
    fn(chunks[1], 1)
    fn(chunks[2], 2)

    got = sorted(map(tuple, sinks.read_batch_log(spark, asg_path).collect()))
    stored = spark.read.parquet(cent_path)
    want = sorted(
        map(tuple, similarity.kmeans_assign(emb, centroids=stored).collect())
    )
    assert got == want


def test_zorder_compacting_writer_windows_replay_and_prune(spark, tmp_path):
    """Streaming OPTIMIZE-ZORDER: 8 batches over a 64x64 grid -> 2 closed
    windows; (1) content equals the union of all batches exactly, with
    the compacting batch replayed (overwrite-idempotent both layers);
    (2) every closed window's files carry tight footer ranges in BOTH
    interleaved dimensions — the pruning property survives the stream."""
    from flinkproject_spark.operators import layout

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)
    base = str(tmp_path / "zstore")
    assert sinks.ZORDER_WINDOW_BATCHES == 4  # 8 batches -> 2 closed windows
    fn = sinks.zorder_compacting_writer(base, ["x", "y"], bits=6, n_files=4)
    for b in range(8):
        chunk = grid.filter(F.pmod(F.col("x") + F.col("y") * 7, F.lit(8)) == b)
        fn(chunk.localCheckpoint(eager=True), b)
        if b == 3:
            fn(chunk.localCheckpoint(eager=True), b)  # replay the compactor
    got = sinks.read_zordered(spark, base, upto_batch=7)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, grid.collect()))
    for w in (0, 1):
        rs = layout.file_ranges(f"{base}/zorder/window={w}", ["x", "y"])
        assert len(rs) >= 2
        # pruning property per window: a corner point query touches at
        # most half the files (range boundaries on half-full windows
        # don't land exactly on quadrant edges, so span-width assertions
        # are brittle; files_touched is the property that matters)
        assert layout.files_touched(rs, {"x": 5, "y": 5}) <= 2
        assert layout.files_touched(rs, {"x": 60, "y": 60}) <= 2


def test_gram_incremental_deltas_merge_and_survive_replay(spark, sf_dir, tmp_path):
    """Streaming Gram == batch Gram under crash replay: embeddings in
    three chunks, first batch re-invoked; merged integer ingredients
    must equal the one-shot embedding_gram exactly (addition-mergeable
    partials + dedup-on-read, the CMS delta-log discipline)."""
    from flinkproject_spark.operators import similarity

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "gram")
    fn = sinks.delta_log_writer(
        path, lambda b: similarity.embedding_gram(b).drop("cov")
    )
    chunks = [
        emb.filter(F.pmod("vec_id", F.lit(3)) == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    fn(chunks[0], 0)
    fn(chunks[0], 0)  # replayed batch: identical deltas, dedup-on-read
    fn(chunks[1], 1)
    fn(chunks[2], 2)
    got = {
        (r.i, r.j): (r.sxy, r.sx, r.sy, r.n)
        for r in sinks.read_delta_log(spark, path, ["i", "j"], F.sum).collect()
    }
    want = {
        (r.i, r.j): (r.sxy, r.sx, r.sy, r.n)
        for r in similarity.embedding_gram(emb).collect()
    }
    assert got == want


# --- socket source: the live-network streaming twin of the Kafka path -------

def test_socket_json_stream_end_to_end(spark, tmp_path):
    """B1/B3's executable evidence (VERDICT r09 #4): the sandbox has no
    Kafka jar/broker (and no network to fetch one — honest negative in
    COVERAGE.md), so prove the readStream -> shared json_value_parser ->
    aggregate -> sink chain over the one live NON-FILE source core Spark
    ships: a TCP socket. The parse step is literally the Kafka reader's
    (sources.kafka.json_value_parser), so what this test pins is the
    broker path's transform chain minus only the transport."""
    import json as js
    import socket as pysocket
    import threading
    import time

    from pyspark.sql import types as T

    from flinkproject_spark.sources.socket import socket_json_source

    rows = [
        {"user_id": i % 3, "event_type": "view", "value": float(i)}
        for i in range(12)
    ]
    srv = pysocket.socket(pysocket.AF_INET, pysocket.SOCK_STREAM)
    srv.setsockopt(pysocket.SOL_SOCKET, pysocket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        try:
            conn.sendall("".join(js.dumps(r) + "\n" for r in rows).encode())
            done.wait(timeout=120)  # hold the connection until the test ends
        finally:
            conn.close()

    threading.Thread(target=serve, daemon=True).start()

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = socket_json_source(spark, "127.0.0.1", port, schema)
    agg = parsed.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("socket_twin")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                r.user_id: (r.n, r.total)
                for r in spark.sql("SELECT * FROM socket_twin").collect()
            }
            if sum(n for n, _ in got.values()) == len(rows):
                break
            time.sleep(0.5)
        expect = {}
        for r in rows:
            n, tot = expect.get(r["user_id"], (0, 0.0))
            expect[r["user_id"]] = (n + 1, tot + r["value"])
        assert got == expect
    finally:
        done.set()
        q.stop()
        srv.close()


def test_a6_late_rows_dropped_past_watermark(spark, tmp_path):
    """Late-data contract pin (VERDICT r09 #6; SURVEY §2E): Flink's default
    window operator silently DROPS events later than the allowed lateness;
    the Spark twin drops at the watermark, with one measured refinement
    this test encodes: the late filter for micro-batch N evaluates against
    the watermark as of batch N-1's END, so a late row racing the very
    batch where the watermark first crosses its window can still be
    absorbed (measured on 4.1: crossing-batch row aggregated,
    numRowsDroppedByWatermark=0). The GUARANTEED drop — what this test
    pins — is for a late row arriving once the crossing is a strictly
    earlier batch: the closed window emits exactly once, WITHOUT the late
    row, and never re-emits. Flink has the same race through its async
    watermark propagation; neither engine re-opens an emitted window."""
    from datetime import datetime

    path = str(tmp_path / "late")
    os.makedirs(path)

    def stage(rows, name):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        )
        d = str(tmp_path / ("tmp_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        replay._move_single_part(d, f"{path}/{name}.parquet")

    def at(minute, hour=0, day=1):
        return datetime(2024, 1, day, hour, minute)

    stage(
        [(1, at(1), 10, "view", 1.0), (2, at(3), 10, "view", 1.0),
         (3, at(5), 10, "view", 1.0)],
        "00000",
    )
    # watermark advancer: max event time 01:00 - 10 min delay = 00:50,
    # past the [00:00, 00:10) window end
    stage([(4, at(0, hour=1), 11, "view", 1.0)], "00001")
    # one more on-time batch so the 00:50 watermark is in force BEFORE the
    # late row arrives (the guaranteed-drop regime, not the crossing race)
    stage([(5, at(5, hour=1), 12, "view", 1.0)], "00002")
    # LATE row inside the long-closed window: must be dropped
    stage([(6, at(2), 10, "view", 1.0)], "00003")
    # heartbeat closes the remaining windows and flushes emissions
    stage([(7, at(0, day=2), replay.HEARTBEAT_ID, "view", 0.0)], "00004")

    base_t = os.path.getmtime(f"{path}/00000.parquet")
    for i, f in enumerate(sorted(os.listdir(path))):
        os.utime(f"{path}/{f}", (base_t + i * 10, base_t + i * 10))

    out = replay.run_to_table(
        jobs.visitor_stats_stream(replay.read_replay(spark, path)),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    got = [(r.stt, r.edt, r.pv_ct) for r in out.collect()]
    # exactly-once emission of the closed window, late row excluded (3, not 4)
    assert got.count(("2024-01-01 00:00:00", "2024-01-01 00:10:00", 3)) == 1
    assert not any(
        s == "2024-01-01 00:00:00" and pv != 3 for s, _, pv in got
    ), f"late row leaked or window re-emitted: {got}"
    # the advancers' window closed via the heartbeat
    assert ("2024-01-01 01:00:00", "2024-01-01 01:10:00", 2) in got


def test_compact_delta_log_keeps_delta_schema_and_guards_overflow(
    spark, tmp_path
):
    """Compaction dtype rule (r09 advice + two r10 review rounds): the
    snapshot must carry the DELTA SCHEMA exactly — floats stay double
    (no bigint truncation), ints stay int — because a widened snapshot
    makes the directory unreadable once the live sink appends its next
    narrow delta (mixed INT32/INT64 parquet physical types fail the
    read). A folded integral/decimal total that outgrows the delta type
    must RAISE, never wrap or null."""
    import pytest as _pytest

    path = str(tmp_path / "dl")
    rows = [(0, "a", 1.5, 100), (0, "b", 2.25, 5), (1, "a", 0.25, 100)]
    df = spark.createDataFrame(
        rows, "batch_id int, k string, fval double, ival int"
    )
    df.write.mode("append").parquet(path)
    sinks.compact_delta_log(spark, path, ["k"], F.sum)
    out = spark.read.parquet(path)
    assert dict(out.dtypes)["fval"] == "double"
    assert dict(out.dtypes)["ival"] == "int"  # delta schema preserved
    got = {r.k: (r.fval, r.ival) for r in out.collect()}
    assert got == {"a": (1.75, 200), "b": (2.25, 5)}
    assert out.select("batch_id").distinct().count() == 1
    # the live sink's NEXT narrow delta must still be readable alongside
    # the snapshot (the failure mode the widened-snapshot rule had)
    spark.createDataFrame(
        [(2, "a", 1.0, 7)], "batch_id int, k string, fval double, ival int"
    ).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 3

    # overflow regime: int32 lifetime total past 2^31-1 -> loud refusal
    path2 = str(tmp_path / "dl2")
    spark.createDataFrame(
        [(0, "a", 2_000_000_000), (1, "a", 2_000_000_000)],
        "batch_id int, k string, ival int",
    ).write.mode("append").parquet(path2)
    with _pytest.raises(ValueError, match="type range"):
        sinks.compact_delta_log(spark, path2, ["k"], F.sum)

    # bigint overflow (r10 advice): a native F.sum over bigint deltas
    # WRAPS at the aggregation itself under non-ANSI semantics before any
    # range check can run — the DECIMAL(38,0)-wide sum keeps the true
    # total so this must raise too, not silently snapshot a wrapped value
    path3 = str(tmp_path / "dl3")
    spark.createDataFrame(
        [(0, "a", 9_000_000_000_000_000_000), (1, "a", 9_000_000_000_000_000_000)],
        "batch_id int, k string, lval long",
    ).write.mode("append").parquet(path3)
    with _pytest.raises(ValueError, match="type range"):
        sinks.compact_delta_log(spark, path3, ["k"], F.sum)
    # and an in-range bigint column still compacts exactly
    path4 = str(tmp_path / "dl4")
    spark.createDataFrame(
        [(0, "a", 4_000_000_000_000_000_000), (1, "a", 4_000_000_000_000_000_000)],
        "batch_id int, k string, lval long",
    ).write.mode("append").parquet(path4)
    sinks.compact_delta_log(spark, path4, ["k"], F.sum)
    out4 = spark.read.parquet(path4)
    assert dict(out4.dtypes)["lval"] == "bigint"
    assert out4.first().lval == 8_000_000_000_000_000_000

    # a MAX-merged log takes the same guarded path: the snapshot keeps the
    # delta schema and folds each key to its max
    path5 = str(tmp_path / "dl5")
    df.write.mode("append").parquet(path5)
    sinks.compact_delta_log(spark, path5, ["k"], F.max)
    out5 = spark.read.parquet(path5)
    assert dict(out5.dtypes)["fval"] == "double"
    assert dict(out5.dtypes)["ival"] == "int"
    assert {r.k: (r.fval, r.ival) for r in out5.collect()} == {
        "a": (1.5, 100), "b": (2.25, 5)
    }
    # no other fold is accepted: the caller names F.sum or F.max
    with _pytest.raises(ValueError, match="F.sum or F.max"):
        sinks.read_delta_log(spark, path5, ["k"], F.min)


def test_compact_delta_log_accepts_exact_type_min(spark, tmp_path):
    """Integral ranges are asymmetric: abs(typeMin) is typeMax + 1, so
    the r11 abs()-based guard rejected a legitimate folded total of
    exactly typeMin — pin the two-sided check on both int and long
    (reverting to abs() fails this), and that one-below still raises."""
    import pytest as _pytest

    path = str(tmp_path / "dlmin")
    spark.createDataFrame(
        [(0, "a", -2_000_000_000, -4_611_686_018_427_387_904),
         (1, "a", -147_483_648, -4_611_686_018_427_387_904)],
        "batch_id int, k string, ival int, lval long",
    ).write.mode("append").parquet(path)
    sinks.compact_delta_log(spark, path, ["k"], F.sum)
    row = spark.read.parquet(path).first()
    assert row.ival == -(2**31)  # exactly int min, accepted
    assert row.lval == -(2**63)  # exactly long min, accepted
    path2 = str(tmp_path / "dlmin2")
    spark.createDataFrame(
        [(0, "a", -2_000_000_000), (1, "a", -147_483_649)],
        "batch_id int, k string, ival int",
    ).write.mode("append").parquet(path2)
    with _pytest.raises(ValueError, match="type range"):
        sinks.compact_delta_log(spark, path2, ["k"], F.sum)
