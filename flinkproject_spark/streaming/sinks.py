"""foreachBatch sink builders (B2, B5, B6, B11 + the A15 routed fan-out).

The reference's sinks are ClickHouse JDBC batches (utils/ClickHouseUtil.java:
20-69), Phoenix dim upserts (DimSinkFunction.java:21-77), and per-record
dynamic-topic Kafka producers (MyKafkaUtil.java:29-38). Spark's idiom for
all of them is `writeStream.foreachBatch`: each micro-batch is a normal
batch DataFrame, so any batch writer — parquet append, JDBC, MERGE — works,
and the routing decision (A15: which rows go to which sink table) happens
INSIDE the batch function, because a running query cannot grow new sinks
(SURVEY §7 delta #6).

Exactly-once posture: checkpointing gives replayable offsets; parquet/JDBC
appends are at-least-once (dedupe downstream on pk), mirroring the
reference's at-least-once default (MyKafkaUtil.java:25-27).
"""

from __future__ import annotations

import logging
import os
import tempfile
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flinkproject_spark.operators.routing import DEFAULT_RULES, RouteRule


def start_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """B5 analog — append micro-batches to a parquet table (the serving
    store; swap format for "delta"/JDBC in a real deployment).

    `partition_cols` is the serving-layout knob: DWS tables partitioned by
    day (`dt`) give the A17/A18 serving queries partition pruning — a
    day-range scan touches only that day's directories instead of the full
    table (the 100 TB analog of ClickHouse's toYYYYMMDD(stt) predicate,
    publisher/.../ProductStatsMapper.java:12,26)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def jdbc_batch_writer(
    url: str,
    table: str,
    driver: str | None = None,
    mode: str = "append",
    batchsize: int = 1000,
    options: dict | None = None,
) -> Callable[[DataFrame, int], None]:
    """B5 — the JDBC form of the serving sink, made concrete (not just a
    docstring claim): each micro-batch appends via `batch.write.format
    ("jdbc")`, the Spark analog of ClickHouseUtil's batched
    PreparedStatement sink (utils/ClickHouseUtil.java:20-69; its batch
    size 5 at :59-61 maps to the `batchsize` option — default 1000 here,
    JDBC-realistic). The first batch auto-creates the table (the
    reference pre-creates ClickHouse tables by hand).

    Works against ANY JDBC url whose driver jar is on the classpath; the
    test suite proves the round-trip end-to-end on embedded Derby (the
    one JDBC engine Spark ships), so the claim is exercised, not assumed.
    At-least-once like the reference's default — dedupe downstream on pk,
    or wrap with the batchId-keyed idempotent pattern.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        w = (
            batch.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batchsize))
            .mode(mode)
        )
        if driver:
            w = w.option("driver", driver)
        for k, v in (options or {}).items():
            w = w.option(k, v)
        w.save()

    return fn


def late_capture_writer(
    ts_col: str,
    delay: str,
    late_path: str,
    downstream: "Callable[[DataFrame, int], None] | None" = None,
) -> Callable[[DataFrame, int], None]:
    """Opt-in late-rows side channel (VERDICT r05 #6). Both the reference
    (Flink default) and this engine's windowed aggs silently DROP
    watermark-late events (pinned by
    `test_late_data_semantics_eviction_based`); the first thing a real
    operator of the warehouse asks is "how many, and which". Flink offers
    `sideOutputLateData`; Structured Streaming has no equivalent, so this
    foreachBatch wrapper reconstructs the engine's cutoff and captures
    what the agg will drop.

    It reproduces Spark's BATCH-START watermark exactly: max event time
    across all PRIOR batches minus `delay` (the one-batch commit lag is
    inherent — the cutoff is the previous batch's max, never the current
    batch's). Rows below the cutoff are appended to `late_path` as
    parquet, tagged with `late_batch_id` and `missed_watermark`; the full
    unmodified batch then flows to `downstream` if given.

    Deployment shape: attach to a SECOND query over the same source as
    the windowed agg (a running agg query exposes no pre-agg rows).
    Delivering the same files/offsets per trigger, both queries compute
    identical watermark sequences, so the captured set equals the dropped
    set — asserted row-for-row by
    `test_late_capture_side_channel_quantifies_drops`. In-flight state is
    one timestamp on the driver, made RESTART-SAFE via a sidecar file
    (`<late_path>.wm` — ISO max-event-time, rewritten after every batch):
    a fresh writer resumes the prior run's watermark instead of silently
    under-capturing its first batch. The sidecar is written AFTER the
    batch's late rows are appended, so a crash between append and sidecar
    re-captures (duplicate late rows, at-least-once) rather than losing
    any — dedupe the side channel on (late_batch_id, natural key) if
    exactly-once capture matters downstream.
    """
    import pandas as pd

    state: dict[str, object] = {"max_ts": None}
    delay_td = pd.Timedelta(delay).to_pytimedelta()
    wm_file = late_path.rstrip("/") + ".wm"

    def fn(batch: DataFrame, batch_id: int) -> None:
        if state["max_ts"] is None and os.path.exists(wm_file):
            with open(wm_file) as fh:
                state["max_ts"] = datetime.fromisoformat(fh.read().strip())
        prev_max = state["max_ts"]
        if prev_max is not None:
            wm = prev_max - delay_td
            late = batch.filter(F.col(ts_col) < F.lit(wm))
            (
                late.withColumn("late_batch_id", F.lit(batch_id))
                .withColumn("missed_watermark", F.lit(wm))
                .write.mode("append")
                .parquet(late_path)
            )
        cur_max = batch.agg(F.max(ts_col)).first()[0]
        if cur_max is not None:
            state["max_ts"] = (
                cur_max if prev_max is None else max(prev_max, cur_max)
            )
            tmp = wm_file + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(state["max_ts"].isoformat())
            os.replace(tmp, wm_file)  # atomic on POSIX
        if downstream is not None:
            downstream(batch, batch_id)

    return fn


def start_jdbc_sink(
    df: DataFrame,
    url: str,
    table: str,
    driver: str | None = None,
    checkpoint_dir: str | None = None,
    batchsize: int = 1000,
) -> StreamingQuery:
    """B5 — stream into a JDBC table via foreachBatch (the writeStream API
    has no native jdbc format; this IS the documented format swap)."""
    return (
        df.writeStream.foreachBatch(jdbc_batch_writer(url, table, driver, batchsize=batchsize))
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


_SQL_TYPES = {
    "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
    "double": "DOUBLE", "float": "REAL",
    "string": "VARCHAR(4000)", "timestamp": "TIMESTAMP", "boolean": "BOOLEAN",
    "date": "DATE",
}


def _sql_type(simple: str, col: str) -> str:
    """Spark simpleString -> SQL DDL type; decimals pass through verbatim
    (DECIMAL(p,s) is standard SQL), anything unmappable raises a CLEAR
    error naming the column instead of a bare KeyError mid-stream."""
    if simple in _SQL_TYPES:
        return _SQL_TYPES[simple]
    if simple.startswith("decimal("):
        return simple.upper()
    raise ValueError(
        f"jdbc_transactional_writer: column {col!r} has type {simple!r}, "
        "which has no JDBC DDL mapping here — project it to a supported "
        "type (or serialize it to a string) before the sink"
    )


def jdbc_transactional_writer(
    url: str,
    target: str,
    driver: str | None = None,
    post_stage_hook: "Callable[[DataFrame, int], None] | None" = None,
) -> Callable[[DataFrame, int], None]:
    """B2's EXACTLY_ONCE semantics against a REAL transactional store — the
    staged-commit pattern, not just batchId-keyed idempotence:

    1. driver: ``DELETE FROM <target>_staging WHERE batch_id = N``
       (clears any partial rows a crashed attempt left);
    2. executors: append the micro-batch (tagged with batch_id) to the
       staging table via ``write.jdbc`` — parallel, non-transactional;
    3. driver, in ONE database transaction: if ``<target>_committed``
       lacks N, ``INSERT INTO <target> SELECT ... FROM staging WHERE
       batch_id = N``, record N in the committed table, clear the staged
       rows, COMMIT. A crash anywhere rolls the whole step back.

    Readers of `target` never observe a batch's rows until that single
    commit — the same visibility contract Kafka's transactional producer
    gives consumers (reference: utils/MyKafkaUtil.java:29-38,
    EXACTLY_ONCE semantic), which the batchId-keyed parquet writer's
    non-atomic directory swap cannot offer. Replay after any crash point
    re-delivers the same batch id; the committed-table guard makes the
    target insert a no-op and the staging delete cleans the re-append.

    TASK retries inside one attempt (executor death after a partition's
    JDBC commit, or speculative duplicates) can land a partition's rows
    in staging twice; each staged row therefore carries a deterministic
    `row_uid` (monotonically_increasing_id: partition-id << 33 + row
    position — identical across recomputations of a checkpointed,
    deterministic micro-batch) and the promote SELECTs DISTINCT over
    (row, row_uid), collapsing retry duplicates while preserving
    legitimately identical data rows. The determinism assumption is the
    same one Spark's own foreachBatch exactly-once guidance makes.

    Tested end-to-end against embedded Derby with a simulated
    crash-after-write-before-checkpoint-commit
    (`test_jdbc_transactional_sink_exactly_once_on_replay`).
    """

    def conn_open(jvm):
        if driver:
            jvm.java.lang.Class.forName(driver)
        return jvm.java.sql.DriverManager.getConnection(url)

    def ensure_tables(conn, batch: DataFrame) -> list[str]:
        cols = [
            (f.name, _sql_type(f.dataType.simpleString(), f.name))
            for f in batch.schema.fields
        ]
        ddl_cols = ", ".join(f'"{n}" {t}' for n, t in cols)
        st = conn.createStatement()
        for sql in (
            f'CREATE TABLE {target} ({ddl_cols})',
            f'CREATE TABLE {target}_staging ({ddl_cols}, "batch_id" BIGINT, "row_uid" BIGINT)',
            f'CREATE TABLE {target}_committed ("batch_id" BIGINT PRIMARY KEY)',
        ):
            try:
                st.executeUpdate(sql)
            except Exception as ex:
                # Derby has no IF NOT EXISTS; swallow ONLY object-exists
                # (SQLState X0Y32) so real failures stay loud
                sql_state = getattr(
                    getattr(ex, "java_exception", None), "getSQLState", lambda: None
                )()
                if sql_state != "X0Y32":
                    raise
        st.close()
        return [n for n, _ in cols]

    def fn(batch: DataFrame, batch_id: int) -> None:
        jvm = batch.sparkSession._jvm
        conn = conn_open(jvm)
        try:
            names = ensure_tables(conn, batch)
            collist = ", ".join(f'"{n}"' for n in names)
            st = conn.createStatement()
            # 1. clear any partial staging rows from a crashed attempt
            st.executeUpdate(
                f'DELETE FROM {target}_staging WHERE "batch_id" = {batch_id}'
            )
            # 2. parallel executor append to staging (row_uid = deterministic
            # per-row identity; collapses task-retry/speculative duplicates)
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .withColumn("row_uid", F.monotonically_increasing_id())
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", f"{target}_staging")
                .mode("append")
                .save()
            )
            if post_stage_hook is not None:
                # test seam: simulate a task retry / speculative duplicate
                # landing extra copies in staging before the promote
                post_stage_hook(batch, batch_id)
            # 3. the guarded atomic promote
            conn.setAutoCommit(False)
            rs = st.executeQuery(
                f'SELECT COUNT(*) FROM {target}_committed WHERE "batch_id" = {batch_id}'
            )
            rs.next()
            already = rs.getInt(1) > 0
            rs.close()
            if not already:
                st.executeUpdate(
                    f'INSERT INTO {target} ({collist}) '
                    f'SELECT {collist} FROM ('
                    f'  SELECT DISTINCT {collist}, "row_uid" FROM {target}_staging '
                    f'  WHERE "batch_id" = {batch_id}'
                    f') t'
                )
                st.executeUpdate(
                    f'INSERT INTO {target}_committed VALUES ({batch_id})'
                )
            st.executeUpdate(
                f'DELETE FROM {target}_staging WHERE "batch_id" = {batch_id}'
            )
            conn.commit()
            st.close()
        finally:
            conn.close()

    return fn


def jdbc_upsert_writer(
    url: str,
    target: str,
    pk: str,
    driver: str | None = None,
    post_stage_hook: "Callable[[DataFrame, int], None] | None" = None,
) -> Callable[[DataFrame, int], None]:
    """B6's dim upsert as a REAL transactional MERGE (VERDICT r05 #5) —
    the production form of `routing.upsert_parquet`'s bucketed-parquet
    stand-in, against any MERGE-capable JDBC store (tested on embedded
    Derby 10.16; Phoenix's `UPSERT INTO` at DimSinkFunction.java:68-77 is
    the reference's equivalent statement).

    Same staged-commit skeleton as `jdbc_transactional_writer` (stage ->
    guarded atomic promote -> ledger), with the promote step a single
    MERGE INTO:

    1. driver clears any staged rows a crashed attempt left for this
       batch id;
    2. executors append the batch to `<target>_staging` in parallel, each
       row tagged (batch_id, row_uid) — row_uid is the deterministic
       per-row position id, so task retries land byte-identical rows;
    3. driver, in ONE transaction guarded by `<target>_committed`:
       MERGE the batch's LAST version of each pk (max row_uid per pk —
       last-writer-wins WITHIN a batch, deterministic because the
       micro-batch is checkpoint-replayed in the same order) into the
       pk-keyed target, record the batch id, drain staging, COMMIT.

    Why the ledger guard matters for an UPSERT (where re-applying one
    batch alone is idempotent): a replayed batch N arriving AFTER batch
    N+1 already merged would clobber newer dim versions with older ones.
    The committed-table check makes the re-delivered merge a no-op, so
    replay preserves the batch ORDER semantics, not just row counts —
    proven under crash replay by
    `test_jdbc_upsert_sink_exactly_once_on_replay`.
    """

    def conn_open(jvm):
        if driver:
            jvm.java.lang.Class.forName(driver)
        return jvm.java.sql.DriverManager.getConnection(url)

    def ensure_tables(conn, batch: DataFrame) -> list[str]:
        if pk not in batch.columns:
            raise ValueError(
                f"jdbc_upsert_writer: pk column {pk!r} not in batch columns "
                f"{batch.columns}"
            )
        cols = [
            (f.name, _sql_type(f.dataType.simpleString(), f.name))
            for f in batch.schema.fields
        ]
        ddl_cols = ", ".join(
            f'"{n}" {t}' + (" PRIMARY KEY" if n == pk else "") for n, t in cols
        )
        plain_cols = ", ".join(f'"{n}" {t}' for n, t in cols)
        st = conn.createStatement()
        for sql in (
            f'CREATE TABLE {target} ({ddl_cols})',
            f'CREATE TABLE {target}_staging ({plain_cols}, "batch_id" BIGINT, "row_uid" BIGINT)',
            # MERGE's source must be a BASE TABLE in Derby (no subquery/
            # view); the deduped batch is materialized here transactionally
            f'CREATE TABLE {target}_promote ({plain_cols})',
            f'CREATE TABLE {target}_committed ("batch_id" BIGINT PRIMARY KEY)',
        ):
            try:
                st.executeUpdate(sql)
            except Exception as ex:
                sql_state = getattr(
                    getattr(ex, "java_exception", None), "getSQLState", lambda: None
                )()
                if sql_state != "X0Y32":  # Derby: object already exists
                    raise
        st.close()
        return [n for n, _ in cols]

    def fn(batch: DataFrame, batch_id: int) -> None:
        jvm = batch.sparkSession._jvm
        conn = conn_open(jvm)
        try:
            names = ensure_tables(conn, batch)
            collist = ", ".join(f'"{n}"' for n in names)
            non_pk = [n for n in names if n != pk]
            st = conn.createStatement()
            st.executeUpdate(
                f'DELETE FROM {target}_staging WHERE "batch_id" = {batch_id}'
            )
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .withColumn("row_uid", F.monotonically_increasing_id())
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", f"{target}_staging")
                .mode("append")
                .save()
            )
            if post_stage_hook is not None:
                post_stage_hook(batch, batch_id)
            conn.setAutoCommit(False)
            rs = st.executeQuery(
                f'SELECT COUNT(*) FROM {target}_committed WHERE "batch_id" = {batch_id}'
            )
            rs.next()
            already = rs.getInt(1) > 0
            rs.close()
            if not already:
                # the batch's last version per pk: max row_uid (retry
                # duplicates share row_uids, so MAX also collapses them).
                # Materialized into the promote table because Derby's
                # MERGE source must be a base table — same transaction,
                # so a crash rolls back the materialization too.
                st.executeUpdate(f'DELETE FROM {target}_promote')
                st.executeUpdate(
                    f'INSERT INTO {target}_promote ({collist}) '
                    f'SELECT DISTINCT {collist} FROM {target}_staging st '
                    f'WHERE st."batch_id" = {batch_id} AND st."row_uid" = ('
                    f'  SELECT MAX(st2."row_uid") FROM {target}_staging st2 '
                    f'  WHERE st2."batch_id" = {batch_id} '
                    f'  AND st2."{pk}" = st."{pk}")'
                )
                set_clause = ", ".join(f'"{n}" = s."{n}"' for n in non_pk)
                insert_vals = ", ".join(f's."{n}"' for n in names)
                st.executeUpdate(
                    f'MERGE INTO {target} t USING {target}_promote s '
                    f'ON t."{pk}" = s."{pk}" '
                    + (f'WHEN MATCHED THEN UPDATE SET {set_clause} ' if non_pk else '')
                    + f'WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({insert_vals})'
                )
                st.executeUpdate(f'DELETE FROM {target}_promote')
                st.executeUpdate(
                    f'INSERT INTO {target}_committed VALUES ({batch_id})'
                )
            st.executeUpdate(
                f'DELETE FROM {target}_staging WHERE "batch_id" = {batch_id}'
            )
            conn.commit()
            st.close()
        finally:
            conn.close()

    return fn


def start_jdbc_upsert_sink(
    df: DataFrame,
    url: str,
    target: str,
    pk: str,
    driver: str | None = None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Wire a dim stream into the transactional MERGE upsert sink (B6)."""
    return (
        df.writeStream.foreachBatch(jdbc_upsert_writer(url, target, pk, driver))
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_jdbc_transactional_sink(
    df: DataFrame,
    url: str,
    target: str,
    driver: str | None = None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Wire a stream into the staged-commit exactly-once JDBC writer."""
    return (
        df.writeStream.foreachBatch(jdbc_transactional_writer(url, target, driver))
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def routed_cdc_writer(
    base_path: str,
    rules: tuple[RouteRule, ...] | Callable[[], tuple[RouteRule, ...]] = DEFAULT_RULES,
) -> Callable[[DataFrame, int], None]:
    """A15/B5/B6 — build the foreachBatch function that fans a decoded CDC
    micro-batch (columns database/tableName/before/after/type) out to its
    configured sink directories with per-rule column pruning.

    Fact rules (`sink_type=kafka` in the reference) and dim rules (`hbase`)
    both land as parquet here — `{base_path}/{sink_table}/`; dims would be a
    Delta MERGE on sink_pk in production (routing.upsert_parquet shows the
    parquet fallback).

    Dynamic config (BaseDBApp's broadcast table_process stream,
    BaseDBApp.java:63-77): pass a zero-arg CALLABLE and it is re-invoked at
    every micro-batch — the Spark analog of the broadcast-state refresh
    (SURVEY §7 delta #6: a running query cannot grow sinks, so new rules
    take effect at the next batch's fan-out instead). A plain tuple is
    captured statically.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        live_rules = rules() if callable(rules) else rules
        batch = batch.persist()
        try:
            for r in live_rules:
                routed = batch.filter(
                    (F.col("tableName") == r.source_table) & (F.col("type") == r.operate_type)
                ).select(*[F.col("after")[c].alias(c) for c in r.sink_columns])
                if routed.isEmpty():  # don't materialize empty sink dirs
                    continue
                routed.write.mode("append").parquet(f"{base_path}/{r.sink_table}")
        finally:
            batch.unpersist()

    return fn


def start_routed_cdc_sink(
    cdc_stream: DataFrame,
    base_path: str,
    rules: tuple[RouteRule, ...] | Callable[[], tuple[RouteRule, ...]] = DEFAULT_RULES,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Wire a decoded CDC stream into the routed fan-out (BaseDBApp.java:83-99)."""
    return (
        cdc_stream.writeStream.foreachBatch(routed_cdc_writer(base_path, rules))
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def idempotent_parquet_writer(base_path: str) -> Callable[[DataFrame, int], None]:
    """B2/B5 — batchId-keyed idempotent foreachBatch writer: micro-batch N
    always lands in `{base_path}/batch_id=N`, written with overwrite, so a
    REPLAYED micro-batch (crash after write, before the checkpoint commit)
    rewrites its own directory instead of appending duplicates.

    This is Spark's answer to the reference's transactional Kafka producer
    (utils/MyKafkaUtil.java:29-38, EXACTLY_ONCE semantic): checkpointed
    offsets make batch ids and their contents deterministic on replay, and
    the deterministic-target overwrite makes the write idempotent — end to
    end exactly-once OUTPUT without a transaction log. The delta vs the
    reference: readers see a replayed batch's directory swap non-atomically
    (Kafka transactions hide in-flight data until commit); Delta/Iceberg
    close that gap with `txnAppId/txnVersion`-style commits keyed the same
    way. Downstream reads get `batch_id` as a partition column; drop it for
    value comparisons."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{base_path}/batch_id={batch_id}")

    return fn


def start_idempotent_parquet_sink(
    df: DataFrame,
    base_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Wire a stream into the batchId-idempotent writer (exactly-once output)."""
    return (
        df.writeStream.foreachBatch(idempotent_parquet_writer(base_path))
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def dim_enriching_writer(
    out_path: str,
    dim_path: str,
    on: tuple[str, str],
    how: str = "left",
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch dim enrichment with a FRESH dim snapshot — the Spark
    analog of the reference's cache invalidation on dim update
    (app/function/DimSinkFunction.java:49-51 deletes the Redis key when the
    dim row changes, so DimAsyncFunction's next lookup reads the new value).
    Spark has no lookup cache to invalidate; the equivalent freshness
    guarantee is to re-read (and re-broadcast) the dim table INSIDE
    foreachBatch, so an `upsert_parquet` landing between micro-batches is
    visible to the very next batch.

    The trap this sink exists to avoid: a stream-static join planned ONCE
    (`spark.read.parquet(dim)` OUTSIDE foreachBatch) pins the parquet file
    listing at plan time — dynamic-partition-overwrite upserts then leave
    the join serving deleted files or stale rows for the life of the query.

    Enriched rows append under `{out_path}` with the batch id stamped, so
    tests (and audits) can see exactly which trigger saw which dim version.
    Null-on-miss via the default left join (A9 semantics).

    At 100 TB: dims are broadcast-sized by definition, so the per-trigger
    re-read is one small scan + broadcast; on Delta the same foreachBatch
    body reads a snapshot version, giving per-batch snapshot isolation.
    """
    stream_key, dim_pk = on

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        dim = spark.read.parquet(dim_path)
        if "pk_bucket" in dim.columns:  # upsert_parquet layout detail
            dim = dim.drop("pk_bucket")
        # drop the DIM's copy of the join key by Column reference — a
        # string-name .drop(dim_pk) removes BOTH sides when the stream key
        # and dim pk share a name, losing the key from the output
        joined = batch.join(
            F.broadcast(dim), batch[stream_key] == dim[dim_pk], how
        ).drop(dim[dim_pk])
        joined.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_path
        )

    return fn


def incremental_dedup_writer(
    corpus_path: str, index_path: str
) -> Callable[[DataFrame, int], None]:
    """Steady-state corpus ingestion: each micro-batch of documents is
    deduped WITHIN the batch (lowest doc_id per content hash wins) and
    against the persisted content index, then the admitted docs append to
    the corpus and their hashes to the index — the live form of
    operators.dedup.incremental_dedup, O(batch) per trigger instead of a
    full-corpus re-dedup.

    The index is one flat parquet directory, re-scanned on every trigger
    (an O(index) read; the join itself is O(batch)). There is no second,
    bucketed layout: BENCH_INDEX_CROSSOVER.md measured it slower than
    the flat scan at 18.2M index rows, for trickle and bulk triggers
    alike. Exactly-once posture: pair with idempotent_parquet_writer-
    style batchId keying when the corpus path must survive replays.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import Window

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.withColumn("content_md5", F.md5("text"))
        w = Window.partitionBy("content_md5").orderBy("doc_id")
        winners = (
            b.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        try:
            idx = spark.read.parquet(index_path)
        except AnalysisException:
            # First batch only — other failures (corrupt index, IO) must
            # propagate rather than silently admit duplicates.
            logging.getLogger(__name__).info(
                "incremental_dedup_writer batch %d: no index at %s yet",
                batch_id,
                index_path,
            )
            idx = None
        admitted = winners if idx is None else winners.join(idx, "content_md5", "left_anti")
        # about to append to the index this plan reads — break lineage
        admitted = admitted.localCheckpoint(eager=True)
        admitted.drop("content_md5").write.mode("append").parquet(corpus_path)
        admitted.select("content_md5").write.mode("append").parquet(index_path)

    return fn


def srp_incremental_writer(
    corpus_path: str,
    sig_index_path: str,
    threshold: float = 0.9,
    bits: int = 16,
    bands: int = 4,
) -> Callable[[DataFrame, int], None]:
    """Embedding-space incremental near-dup gate: the SRP-LSH twin of
    `incremental_dedup_writer` (which gates on EXACT content hashes).
    Each micro-batch of vectors is signature-banded
    (operators.dedup.srp_signatures), candidate-matched against the
    persisted signature index on (band, bucket), cosine-verified against
    the stored corpus vectors, and only vectors with no verified match
    are admitted — their embeddings append to the corpus, their
    signatures to the index. JOIN work is O(batch x bucket-collisions)
    per trigger; both flat parquet stores, index and corpus, are
    re-scanned on every trigger (an O(corpus) READ). There is no second,
    bucketed layout: BENCH_INDEX_CROSSOVER.md measured it slower than
    the flat scan at 18.2M index rows (trickle trigger 4.1 s flat vs
    4.95 s bucketed; bulk build growth 1.48x flat vs 1.92x bucketed).

    Within-batch policy is CONSERVATIVE: a vector is also dropped when it
    verifies against any lower-vec_id batch member, admitted or not — a
    chain A~B~C (A admitted) can drop C even if C only matched the
    dropped B. This over-drops borderline chains but guarantees the
    corpus invariant the test pins: no two ADMITTED vectors anywhere
    verify >= threshold through a shared band bucket. (Per-batch exact
    clustering — connected components inside foreachBatch — buys back the
    borderline members at iterative-job cost; wrong trade for a sink.)

    `bits`/`bands` size the SRP banding — STATIC per writer because the
    persisted signature index must be built with one consistent family
    (re-banding an existing index means re-signing the corpus). Size
    them for the EXPECTED corpus via dedup.srp_recommended_banding
    (b ~ log2 of the eventual vector count); the 16/4 default is the
    test-SF calibration, and an undersized banding makes candidate
    verification — not storage layout — the growing per-batch cost
    (BENCH_SINKS_SCALE.md measures exactly that conflation).
    """

    def _verified_pairs(cand: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        """cand (vec_a, vec_b) against embeddings in left/right -> pairs
        with cosine >= threshold (same Arrow-batched kernel as
        srp_lsh_near_dups)."""
        import numpy as np
        import pandas as pd

        la = left.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
        rb = right.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
        joined = cand.join(la, "vec_a").join(rb, "vec_b")

        def cos(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                A = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
                B = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
                c = np.round(
                    (A * B).sum(1)
                    / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)),
                    6,
                )
                yield pd.DataFrame(
                    {"vec_a": pdf["vec_a"], "vec_b": pdf["vec_b"], "cosine": c}
                )

        out = joined.mapInPandas(cos, "vec_a bigint, vec_b bigint, cosine double")
        return out.filter(F.col("cosine") >= threshold)

    def fn(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from flinkproject_spark.operators.dedup import srp_signatures

        spark = batch.sparkSession
        sig = srp_signatures(batch, bits, bands).localCheckpoint(eager=True)
        dropped = None
        try:
            idx = spark.read.parquet(sig_index_path)
            corpus = spark.read.parquet(corpus_path)
        except AnalysisException:
            # First batch: neither the signature index nor the corpus
            # exists yet.  Only PATH_NOT_FOUND-class failures mean that —
            # corrupt files / schema drift / IO errors must propagate, or
            # the sink would silently skip cross-corpus dedup and admit
            # duplicates (the invariant this writer exists to guarantee).
            logging.getLogger(__name__).info(
                "srp_incremental_writer batch %d: no index at %s yet; "
                "skipping cross-corpus check",
                batch_id,
                sig_index_path,
            )
            idx = None
        if idx is not None:
            cand_x = (
                sig.join(idx.withColumnRenamed("vec_id", "vec_b"), ["band", "bucket"])
                .select(F.col("vec_id").alias("vec_a"), "vec_b")
                .distinct()
            )
            dropped = _verified_pairs(cand_x, batch, corpus).select(
                F.col("vec_a").alias("vec_id")
            ).distinct()
        # within-batch: candidates through shared buckets, lower id wins
        s2 = sig.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
        cand_in = (
            sig.join(s2, ["band", "bucket"])
            .filter(F.col("vec_id") < F.col("vec_b"))
            .select(F.col("vec_id").alias("vec_a"), "vec_b")
            .distinct()
        )
        in_batch = _verified_pairs(cand_in, batch, batch).select(
            F.col("vec_b").alias("vec_id")
        ).distinct()
        dropped = in_batch if dropped is None else dropped.unionByName(in_batch).distinct()
        admitted = batch.join(dropped, "vec_id", "left_anti").localCheckpoint(eager=True)
        new_sigs = sig.join(admitted.select("vec_id"), "vec_id", "left_semi")
        admitted.write.mode("append").parquet(corpus_path)
        new_sigs.write.mode("append").parquet(sig_index_path)

    return fn


def span_incremental_writer(
    gram_index_path: str,
    spans_path: str,
    w: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Ingest-time repeated-SPAN detection: the streaming twin of
    operators.dedup.duplicated_spans. Each micro-batch's rolling w-token
    gram hashes (span_gram_rows) are matched against the PERSISTED
    corpus gram index AND cross-document within the batch; matched
    windows merge into maximal spans (merge_marked_spans — identical
    interval-merge semantics to the batch operator) which append to
    `spans_path`, and the batch's distinct (doc_id, gh) rows append to
    the index. Join work is O(batch x gram collisions) per trigger; the
    flat parquet index is re-scanned on every trigger (an O(index)
    read). There is no second, bucketed layout: BENCH_INDEX_CROSSOVER.md
    measured it slower than the flat scan at 18.2M index rows.

    Semantics are ONE-SIDED by design: a span records that an ingested
    document repeats content seen at-or-before its ingest time; the
    earlier document gets no retroactive span (exactly
    incremental_dedup's keeper rule). Within a single batch matching is
    symmetric, so a one-batch run reproduces the batch operator's output
    row-for-row (pinned by test). nd_max counts the distinct documents
    sharing the span's worst gram INCLUDING the owner, matching the
    batch operator's multiplicity column.

    This writer ANNOTATES rather than gates: every document's grams join
    the index regardless of spans (a span is a quality signal — scrub or
    drop decisions belong to the corpus pipeline composing this sink
    with the gates it already has).

    Idempotent under foreachBatch crash-replay (ADVICE r07): span rows
    append TAGGED with batch_id, and a replayed batch recomputes the
    IDENTICAL rows (grams, index matches and nd counts are all
    deterministic; the gram index itself is replay-safe via the
    anti-join below, so the replay sees the same effective index) —
    read the log with :func:`read_spans`, which collapses the duplicate
    (batch_id, span) rows the way :func:`read_delta_log` does for sketch
    deltas. Same doc re-ingested in a LATER batch keeps both
    annotations (different batch_id — a real second ingest event).
    """
    def fn(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from flinkproject_spark.operators.dedup import (
            merge_marked_spans,
            span_gram_rows,
        )

        spark = batch.sparkSession
        gh = span_gram_rows(batch, w).localCheckpoint(eager=True)
        try:
            idx = spark.read.parquet(gram_index_path)
        except AnalysisException:
            logging.getLogger(__name__).info(
                "span_incremental_writer batch %d: no index at %s yet; "
                "within-batch matching only",
                batch_id,
                gram_index_path,
            )
            idx = None
        other = gh.select(F.col("doc_id").alias("doc_b"), "gh")
        matches = (
            gh.join(other, "gh")
            .filter(F.col("doc_id") != F.col("doc_b"))
            .select("doc_id", "pos", "doc_b")
        )
        if idx is not None:
            m_idx = (
                gh.join(idx.withColumnRenamed("doc_id", "doc_b"), "gh")
                .filter(F.col("doc_id") != F.col("doc_b"))  # re-ingest guard
                .select("doc_id", "pos", "doc_b")
            )
            matches = matches.unionByName(m_idx)
        marked = matches.groupBy("doc_id", "pos").agg(
            (F.countDistinct("doc_b") + 1).alias("nd")
        )
        merge_marked_spans(marked, w).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(spans_path)
        # index hygiene: a re-ingested document's grams are already
        # present — anti-join against the (already-read) index so the
        # store never accumulates duplicate (doc_id, gh) rows. Matching
        # is countDistinct-based so duplicates would be harmless for
        # correctness; this bounds storage, not semantics.
        new_rows = gh.select("doc_id", "gh").distinct()
        if idx is not None:
            new_rows = new_rows.join(idx, ["doc_id", "gh"], "left_anti")
        new_rows.write.mode("append").parquet(gram_index_path)

    return fn


def read_spans(spark, spans_path: str) -> DataFrame:
    """Span annotations from the batch-tagged log written by
    :func:`span_incremental_writer`: drop crash-replay duplicates — a
    replayed batch appends byte-identical rows under the SAME batch_id,
    so a full-row distinct collapses exactly those — then project the
    batch_id tag away. Rows repeated across DIFFERENT batch_ids survive
    (a document genuinely re-ingested later is a second annotation
    event). Mirrors :func:`read_delta_log`'s append-with-id +
    dedup-on-read discipline (ADVICE r07)."""
    return spark.read.parquet(spans_path).distinct().drop("batch_id")


def _scoring_split_writer(
    corpus_path: str,
    side_suffix: str,
    score_batch: "Callable[[DataFrame], DataFrame]",
    keep_pred,
    clean_drop: tuple = (),
) -> Callable[[DataFrame, int], None]:
    """Shared scaffold for score-on-ingest sinks: score each micro-batch
    against persisted reference state (score_batch returns the batch with
    its score columns attached, no nulls), route rows passing `keep_pred`
    to the corpus and the rest — scores attached — to the
    `<corpus><side_suffix>` side channel. Nothing is silently dropped
    (the dirty-side-output discipline of the log split,
    BaseLogApp.java:62-66). The scored frame is localCheckpoint'ed so the
    scoring subplan runs once for both writes."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        scored = score_batch(batch).localCheckpoint(eager=True)  # score once, write twice
        keep = scored.filter(keep_pred)
        drop = scored.filter(~keep_pred)
        keep.drop(*clean_drop).write.mode("append").parquet(corpus_path)
        drop.write.mode("append").parquet(f"{corpus_path}{side_suffix}")

    return fn


def decontaminating_writer(
    corpus_path: str, bench_shingles_path: str, max_contamination: float = 0.2, n: int = 3
) -> Callable[[DataFrame, int], None]:
    """Scrub-on-ingest decontamination: each micro-batch of documents is
    scored against the PERSISTED benchmark shingle set
    (operators.dedup.contamination_check semantics, O(batch) per trigger),
    docs at or under `max_contamination` append to the corpus, the rest to
    a `<corpus>_quarantine` side channel with their scores.

    The benchmark shingle set is written once (tiny — eval corpora are
    thousands of rows); per batch it joins against only the batch's
    shingles, so AQE broadcasts it and the hop stays map-side. Docs too
    short to shingle (< n tokens) have zero shingles, score 0.0, and are
    admitted — pinned by test.
    """

    def score(batch: DataFrame) -> DataFrame:
        from flinkproject_spark.operators.dedup import score_against_shingles

        bench_sh = batch.sparkSession.read.parquet(bench_shingles_path)
        scores = score_against_shingles(batch, bench_sh, n)
        return batch.join(scores, "doc_id", "left").fillna(
            {"n_shingles": 0, "n_contaminated": 0, "contamination_pct": 0.0}
        )

    return _scoring_split_writer(
        corpus_path,
        "_quarantine",
        score,
        F.col("contamination_pct") <= max_contamination,
        clean_drop=("n_shingles", "n_contaminated", "contamination_pct"),
    )


def bloom_decontaminating_writer(
    corpus_path: str,
    bench_positions_path: str,
    max_flagged: float = 0.2,
    n: int = 3,
    m_bits: int | None = None,
    k: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Scrub-on-ingest decontamination through the BLOOM tier
    (operators.dedup.score_against_bloom): the persisted benchmark
    POSITION SET is densified to the m_bits-bit filter ONCE, on the first
    trigger, then every micro-batch probes the same 128 KB broadcast row —
    no per-trigger re-read of reference state, no join on the probe path,
    O(batch) per trigger with a constant-size probe structure no matter
    how large the eval corpus is (the constant-memory twin of
    :func:`decontaminating_writer`).

    Routing mirrors the exact tier: docs at or under `max_flagged` append
    to the corpus, the rest — scores attached — to `<corpus>_quarantine`.
    Bloom false positives can only quarantine MORE than the exact tier
    (never admit a contaminated doc the exact tier would catch); docs too
    short to shingle have zero shingles, score 0.0, and are admitted.
    """
    from flinkproject_spark import functions as K
    from flinkproject_spark.operators.dedup import bloom_bitset, score_against_bloom

    m = K.BLOOM_M_DEFAULT if m_bits is None else m_bits
    kk = K.BLOOM_K_DEFAULT if k is None else k
    cache: dict = {}

    def score(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        if "words" not in cache:  # densify once, reuse across triggers
            cache["words"] = bloom_bitset(
                spark, spark.read.parquet(bench_positions_path), m
            )
        scores = score_against_bloom(batch, cache["words"], n=n, m_bits=m, k=kk)
        return batch.join(scores, "doc_id", "left").fillna(
            {"n_shingles": 0, "n_flagged": 0, "flagged_pct": 0.0}
        )

    return _scoring_split_writer(
        corpus_path,
        "_quarantine",
        score,
        F.col("flagged_pct") <= max_flagged,
        clean_drop=("n_shingles", "n_flagged", "flagged_pct"),
    )


def dsir_selecting_writer(
    corpus_path: str, vocab_path: str, min_importance: float = 0.0
) -> Callable[[DataFrame, int], None]:
    """Importance-select-on-ingest (the streaming half of DSIR, arXiv:
    2302.03169): each micro-batch of documents is scored against the
    PERSISTED log-ratio vocab table (text.dsir_vocab, trained once on the
    reference corpus), docs at or above `min_importance` append to the
    corpus, the rest to a `<corpus>_rejected` side channel with their
    scores.

    O(batch) per trigger: the batch's tokens join the Zipf-small vocab
    (AQE-broadcastable); tokens unseen at train time score a neutral 0
    (score_against_vocab's OOV contract), so a drifting stream degrades
    toward indifference, never a crash or a skew blow-up.
    """

    def score(batch: DataFrame) -> DataFrame:
        from flinkproject_spark.operators.text import score_against_vocab

        vocab = batch.sparkSession.read.parquet(vocab_path)
        scores = score_against_vocab(batch, vocab)
        return batch.join(scores, "doc_id", "left").fillna(
            {"n_tokens": 0, "log_importance": 0.0}
        )

    return _scoring_split_writer(
        corpus_path, "_rejected", score, F.col("log_importance") >= min_importance
    )


def nb_gating_writer(
    corpus_path: str, model_path: str, threshold_ppm: int = 0
) -> Callable[[DataFrame, int], None]:
    """Classifier-gate-on-ingest: the streaming serve face of the TRAINED
    NB quality tier (r11) — each micro-batch of documents is scored under
    the PERSISTED model table (text.nb_model_score: class prior + exact
    int64 ppm sum of per-occurrence log-odds), docs with nb_score_ppm >
    `threshold_ppm` append to the corpus and the rest — scores attached —
    to a `<corpus>_rejected` side channel (the dirty-side-output
    discipline, BaseLogApp.java:62-66 parity). Streaming twin of the
    batch pipeline's v5 gate (plans/corpus.build_training_corpus_v5).

    The model is re-read INSIDE each batch (dim_enriching_writer's
    freshness rule), so a re-fit landing between triggers gates the very
    next batch; the table is vocabulary-sized, so the per-trigger read is
    one broadcast-scale scan. OOV tokens score 0 under both smoothed LMs
    (nb_model_score's contract), so a drifting stream degrades toward
    the prior, never a crash.
    """

    def score(batch: DataFrame) -> DataFrame:
        from flinkproject_spark.operators.text import nb_model_score

        model = batch.sparkSession.read.parquet(model_path)
        return batch.join(nb_model_score(batch, model), "doc_id")

    return _scoring_split_writer(
        corpus_path,
        "_rejected",
        score,
        F.col("nb_score_ppm") > threshold_ppm,
        clean_drop=("nb_score_ppm",),
    )


def start_console_sink(df: DataFrame, rows: int = 20) -> StreamingQuery:
    """B11 — the `.print()` debug sink (BaseLogApp.java:132-134)."""
    return df.writeStream.format("console").option("numRows", rows).start()


def kafka_value_frame(df: DataFrame, topic_col: str | None = None, topic: str | None = None) -> DataFrame:
    """B2 — shape a DataFrame for the Kafka sink: all columns JSON-packed
    into `value`, topic either fixed or per-record from `topic_col` (the
    reference's dynamic `sinkTable` topic — MyKafkaUtil.java:29-38).

    No broker exists in this environment; this returns the sink-ready frame
    so tests can assert its shape, and production code appends
    `.writeStream.format("kafka").option("kafka.bootstrap.servers", ...)`.
    """
    assert (topic_col is None) != (topic is None), "exactly one of topic_col/topic"
    payload = df.select(
        (F.col(topic_col) if topic_col else F.lit(topic)).alias("topic"),
        F.to_json(F.struct(*[c for c in df.columns if c != topic_col])).alias("value"),
    )
    return payload


def kmeans_assigning_writer(
    centroids_path: str, assignments_path: str
) -> Callable[[DataFrame, int], None]:
    """Streaming serving side of the trained coarse quantizer: each
    micro-batch of (vec_id, embedding) rows is assigned to its nearest
    persisted centroid (operators.similarity.kmeans_assign — broadcast
    crossJoin + exact int64 argmin, stateless per trigger) and appended
    tagged with batch_id. Train once (kmeans_fit -> write centroids),
    assign forever — the split the fit docstring promises, as a sink.

    Idempotency: assignment is deterministic, so a crash-replayed batch
    appends byte-identical rows under the SAME batch_id; read with
    :func:`read_assignments` (full-row distinct, then drop the tag) —
    the span-log discipline. Re-training writes NEW centroids under a
    new path/version; assignments are per-version by construction.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        from flinkproject_spark.operators.similarity import kmeans_assign

        centroids = batch.sparkSession.read.parquet(centroids_path)
        kmeans_assign(batch, centroids=centroids).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(assignments_path)

    return fn


def read_assignments(spark, assignments_path: str) -> DataFrame:
    """Merged (vec_id, cid, d2) assignments from the batch-tagged log,
    crash-replay duplicates collapsed by full-row distinct."""
    return spark.read.parquet(assignments_path).distinct().drop("batch_id")


# Batches per z-ordered window. The writer closes a window and the reader
# splits closed windows from open incoming directories at this boundary;
# one constant, because a reader using a wider window than the writer
# opened no incoming directories past its own boundary and silently lost
# every row between the two.
ZORDER_WINDOW_BATCHES = 4


def zorder_compacting_writer(
    base_path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 4,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of the Z-order layout tier: micro-batches land as
    fast appends under ``incoming/batch_id=N`` (overwrite per batch-id
    directory — a crash-replayed batch rewrites its own directory, so
    the sink is idempotent the same way scoring_split_writer is), and
    every ZORDER_WINDOW_BATCHES triggers the accumulated window is REWRITTEN
    once into ``zorder/window=K`` via operators.layout.zorder_layout.

    This is the lakehouse OPTIMIZE-ZORDER discipline as a foreachBatch
    sink: compaction cost is O(window), never O(store) — each window is
    clustered once and never touched again — so total write amplification
    is a constant 2x (one append + one clustered rewrite), while readers
    get footer-prunable files in BOTH interleaved dimensions for every
    closed window plus raw recency in ``incoming/``. The window id is
    derived from batch_id (deterministic), so a replay of the compacting
    batch rewrites the SAME window directory with identical content —
    overwrite-idempotent, no manifest needed.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        from flinkproject_spark.operators import layout

        batch.write.mode("overwrite").parquet(
            f"{base_path}/incoming/batch_id={batch_id}"
        )
        if (batch_id + 1) % ZORDER_WINDOW_BATCHES:
            return
        window = batch_id // ZORDER_WINDOW_BATCHES
        lo = window * ZORDER_WINDOW_BATCHES
        spark = batch.sparkSession
        acc = spark.read.parquet(
            *[f"{base_path}/incoming/batch_id={b}" for b in range(lo, batch_id + 1)]
        )
        layout.zorder_layout(
            acc, cols, f"{base_path}/zorder/window={window}", n_files, bits
        )

    return fn


def read_zordered(spark, base_path: str, upto_batch: int):
    """Read the compacted store: all closed z-ordered windows plus the
    raw incoming directories of the still-open window. Returns a
    DataFrame over exactly the rows of batches 0..upto_batch (replayed
    duplicates impossible: both layers are overwrite-per-directory)."""
    closed = (upto_batch + 1) // ZORDER_WINDOW_BATCHES
    paths = [f"{base_path}/zorder/window={w}" for w in range(closed)]
    paths += [
        f"{base_path}/incoming/batch_id={b}"
        for b in range(closed * ZORDER_WINDOW_BATCHES, upto_batch + 1)
    ]
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# mergeable sketch state: one delta log for CMS, HLL, histogram and Gram
# ---------------------------------------------------------------------------
SNAPSHOT_BATCH_ID = -1  # foreachBatch ids are >= 0: never collides


def delta_log_writer(
    path: str, delta: "Callable[[DataFrame], DataFrame]"
) -> Callable[[DataFrame, int], None]:
    """Streaming form of a mergeable sketch: per micro-batch append
    `delta(batch)` tagged with the batch id. The sketch state is the fold
    of all deltas, served by :func:`read_delta_log` with the sketch's
    merge (the keyed, mergeable-state design of Flink's state backend):

    | sketch    | delta                                       | key_cols        | merge |
    |-----------|---------------------------------------------|-----------------|-------|
    | CMS       | relational.cms_counters                     | i, bucket       | sum   |
    | HLL       | relational.hll_registers                    | scope, reg      | max   |
    | histogram | relational.histq_bin_deltas(b, lo, hi)      | scope, bin      | sum   |
    | Gram      | similarity.embedding_gram(b).drop("cov")    | i, j            | sum   |

    Idempotent under foreachBatch retries: a replayed batch recomputes
    the SAME delta rows under the SAME batch id (every delta above is
    deterministic), and the reader collapses them before merging — the
    append-with-id + dedup-on-read discipline, so the merged sketch is
    exactly the one-shot batch sketch."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        delta(batch).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)

    return fn


def _replay_deduped(raw: DataFrame, key_cols: list[str], merge) -> tuple:
    """(per-batch rows, value columns) of a delta log: a replayed batch
    appends identical rows under the same batch id, so MAX per
    (batch_id, key) is the one true delta. Shared by the reader and the
    compactor, so both fold the same log the same way."""
    if merge is not F.sum and merge is not F.max:
        raise ValueError(f"delta-log merge must be F.sum or F.max, got {merge!r}")
    vals = [c for c in raw.columns if c not in set(key_cols) | {"batch_id"}]
    per_batch = raw.groupBy("batch_id", *key_cols).agg(
        *[F.max(c).alias(c) for c in vals]
    )
    return per_batch, vals


def read_delta_log(spark, path: str, key_cols: list[str], merge) -> DataFrame:
    """Merged sketch state from a :func:`delta_log_writer` log: per-batch
    replay dedup, then `merge` (F.sum for counters, F.max for registers)
    of every value column across batches, grouped by `key_cols`. The
    merge is required: folding a MAX log by SUM would silently corrupt
    it. Returns the key columns plus the delta's value columns, in the
    delta's dtypes (a sum of int widens to bigint, as F.sum does)."""
    per_batch, vals = _replay_deduped(spark.read.parquet(path), key_cols, merge)
    return per_batch.groupBy(*key_cols).agg(*[merge(c).alias(c) for c in vals])


def compact_delta_log(spark, path: str, key_cols: list[str], merge) -> None:
    """Snapshot-compact a :func:`delta_log_writer` directory: fold the
    whole log — per-batch replay dedup then `merge`, exactly what
    :func:`read_delta_log` does — into ONE snapshot batch tagged
    SNAPSHOT_BATCH_ID, and rewrite the directory to just that batch.
    The reader needs no changes: a snapshot row is just another batch
    delta to it, so reads after compaction cost O(keys), not
    O(keys x batches).

    Non-atomic: the rewrite is write-tmp / delete / rename, and a crash
    in the window loses the log (the sink's upstream outputs are
    unaffected; rebuild by re-ingesting or restoring the previous
    snapshot). Run it OUTSIDE the streaming query's replay window (after
    checkpoint commit): a sum-merged batch replayed AFTER its rows were
    folded into the snapshot would double-count, since the batch id that
    dedup-on-read keys on is gone. A transactional table format gives
    the same fold atomically."""
    import shutil

    from pyspark.sql import types as _T

    raw = spark.read.parquet(path)
    per_batch, vals = _replay_deduped(raw, key_cols, merge)
    # dtype rule (r10, twice-reviewed): the snapshot row must carry the
    # DELTA SCHEMA exactly — a widened snapshot makes the directory
    # unreadable the moment the live sink appends its next narrow delta
    # (measured: mixed INT32/INT64 physical types fail the parquet read
    # with PARQUET_COLUMN_DATA_TYPE_MISMATCH). So every fold is cast BACK
    # to its input type (floats keep float, never a blanket bigint that
    # would truncate), and the integral/decimal narrowing is GUARDED: a
    # folded total that outgrew the delta type raises here instead of
    # silently wrapping (int) or nulling (decimal) in the snapshot.
    in_type = {f.name: f.dataType for f in raw.schema.fields}
    _INT_MAX = {
        _T.ByteType: 127,
        _T.ShortType: 32767,
        _T.IntegerType: 2147483647,
        _T.LongType: 9223372036854775807,
    }

    # Integral and decimal columns are folded as DECIMAL(38, scale), not
    # their native type: F.sum over bigint deltas wraps at the AGGREGATION
    # itself under non-ANSI semantics (and decimal sums null out past
    # precision+10), which would defeat the range check below — the wide
    # fold keeps the true total so the guard can see it (r10 advice). The
    # narrowing cast back to the delta type happens only after the check.
    # A MAX fold never leaves its input range, so the guard cannot fire
    # for it; both merges take the same path.
    def _wide_merge(c):
        t = in_type[c]
        if type(t) in _INT_MAX:
            return merge(F.col(c).cast(_T.DecimalType(38, 0))).alias(c)
        if isinstance(t, _T.DecimalType):
            return merge(F.col(c).cast(_T.DecimalType(38, t.scale))).alias(c)
        return merge(c).alias(c)

    guarded = [
        c for c in vals
        if type(in_type[c]) in _INT_MAX or isinstance(in_type[c], _T.DecimalType)
    ]
    merged_wide = per_batch.groupBy(*key_cols).agg(
        *[_wide_merge(c) for c in vals],
        # per-key non-null input counts: distinguish a legitimately-null
        # sum (all inputs null) from a DECIMAL(38) overflow nulled by
        # non-ANSI sum — the one case the wide type itself can't absorb
        *[F.count(c).alias(f"__cnt_{c}") for c in guarded],
    )
    checks = []
    for c in guarded:
        t = in_type[c]
        # a null wide sum over >0 non-null inputs = DECIMAL(38) overflow
        over_null = F.col(c).isNull() & (F.col(f"__cnt_{c}") > 0)
        if type(t) in _INT_MAX:
            # two-sided compare, not abs(): integral ranges are
            # asymmetric — abs(typeMin) is typeMax + 1, so an abs-based
            # guard would reject a legitimate folded total of exactly
            # typeMin (r11 review)
            hi = _INT_MAX[type(t)]
            over_rng = (
                F.col(c) > F.lit(str(hi)).cast(_T.DecimalType(38, 0))
            ) | (F.col(c) < F.lit(str(-hi - 1)).cast(_T.DecimalType(38, 0)))
        elif t.precision < 38:
            # decimal-vs-decimal compare — a double cast is imprecise near
            # the limit (r10 advice); 10^(p-s) fits DECIMAL(38,s) whenever
            # p < 38, and at p == 38 the wide sum IS the delta type (no
            # narrowing occurs; only the overflow-to-null case remains)
            lim = str(10 ** (t.precision - t.scale))
            over_rng = F.abs(F.col(c)) >= F.lit(lim).cast(
                _T.DecimalType(38, t.scale)
            )
        else:
            over_rng = F.lit(False)
        checks.append(F.max((over_null | over_rng).cast("int")).alias(c))
    if checks:
        over = merged_wide.agg(*checks).first().asDict()
        bad = sorted(c for c, flag in over.items() if flag)
        if bad:
            raise ValueError(
                f"compact_delta_log: folded totals for {bad} exceed their "
                "delta column's type range — widen the sink's delta schema "
                "before compacting (a narrowed snapshot would silently "
                "wrap/null the counter)"
            )
    merged = merged_wide.select(
        *key_cols, *[F.col(c).cast(in_type[c]).alias(c) for c in vals]
    )
    snap = merged.withColumn("batch_id", F.lit(SNAPSHOT_BATCH_ID))
    tmp = path.rstrip("/") + "__compacting"
    snap.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
