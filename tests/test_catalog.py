"""Catalog loads: schema from the parquet footer, no Spark job, one
DataFrame per session and file version."""

from __future__ import annotations

import datetime as dt
import os
import uuid
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flinkproject_spark import catalog

SCALES = ("sf0.001", "sf0.01", "sf0.1")  # every testdata scale, next to the sf_dir fixture's


def _inferred(spark, sf_dir, name):
    """The load as it was before footer schemas: Spark infers the schema
    (one job), then the same normalization."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _jobs_of(spark, fn):
    """(fn's result, ids of the Spark jobs it started)."""
    sc, group = spark.sparkContext, f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _assert_same_table(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("scale", SCALES)
def test_load_table_matches_inferred_read_and_starts_no_job(spark, sf_dir, scale):
    sf_dir = os.path.join(os.path.dirname(sf_dir), scale)
    fresh = spark.newSession()  # empty memo: the first call really builds
    for name in catalog.TABLES:
        first, jobs_first = _jobs_of(fresh, lambda: catalog.load_table(fresh, sf_dir, name))
        again, jobs_again = _jobs_of(fresh, lambda: catalog.load_table(fresh, sf_dir, name))
        assert (jobs_first, jobs_again) == ([], []), name
        assert again is first
        _assert_same_table(first, _inferred(fresh, sf_dir, name))


def test_load_table_converts_nanosecond_event_timestamps(spark, tmp_path):
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()), "ts": pa.array([ns], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    assert str(pq.read_schema(tmp_path / "events.parquet").field("ts").type) == "timestamp[ns]"
    df, jobs = _jobs_of(spark, lambda: catalog.load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    _assert_same_table(df, _inferred(spark, str(tmp_path), "events"))
    got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")).first().s
    assert got == "2023-11-14 22:13:20.123456"


def test_load_table_reads_a_spark_written_directory(spark, tmp_path):
    rows = [
        (1, dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.datetime(2024, 5, 6, 7, 8, 9), Decimal("1.25"), [1.5, None], "a"),
        (2, None, None, None, None, None),
    ]
    schema = "id long, ts timestamp, ts_ntz timestamp_ntz, amt decimal(12,2), vec array<float>, s string"
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(str(tmp_path / "t.parquet"))
    df, jobs = _jobs_of(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert jobs == []
    assert df.schema["ts_ntz"].dataType == T.TimestampType()
    _assert_same_table(df, _inferred(spark, str(tmp_path), "t"))


def test_load_table_sees_a_rewritten_file_and_keeps_an_unchanged_one(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), path)
    first = catalog.load_table(spark, str(tmp_path), "region")
    assert catalog.load_table(spark, str(tmp_path), "region") is first
    assert first.count() == 3
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2, 3, 4]}), path)
    second = catalog.load_table(spark, str(tmp_path), "region")
    assert second is not first
    assert sorted(r.r_regionkey for r in second.collect()) == [0, 1, 2, 3, 4]

    # a directory: adding a part file is a new version too
    d = tmp_path / "nation.parquet"
    spark.range(3).write.parquet(str(d))
    before = catalog.load_table(spark, str(tmp_path), "nation")
    spark.range(3, 5).write.mode("append").parquet(str(d))
    after = catalog.load_table(spark, str(tmp_path), "nation")
    assert after is not before and after.count() == 5


def test_sessions_never_share_a_loaded_table(spark, sf_dir):
    other = spark.newSession()
    mine = catalog.load_table(spark, sf_dir, "orders")
    theirs = catalog.load_table(other, sf_dir, "orders")
    assert theirs is not mine
    assert theirs.sparkSession is other and mine.sparkSession is spark
    assert catalog.load_table(other, sf_dir, "orders") is theirs


def test_load_table_refuses_a_non_local_path(spark):
    with pytest.raises(ValueError, match="s3://bucket/sf0.01"):
        catalog.load_table(spark, "s3://bucket/sf0.01", "orders")
