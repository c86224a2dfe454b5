"""SparkSession factory.

The reference pins every Flink job's parallelism to 1 and hardcodes UTC+8
datetime handling (reference: realtime/.../utils/DateTimeUtil.java:20,
BaseLogApp.java:35). This engine instead runs fully parallel and pins the
session timezone to UTC so that results are reproducible and match the
DuckDB oracle (which operates on naive timestamps).

Scale posture: these settings are the local-mode analog of a 1000-executor
deployment —
- AQE on (runtime coalescing / skew-join splitting),
- shuffle partitions sized for the local core count (on a real cluster this
  is either left to AQE or sized ~2-3x total cores),
- Arrow enabled so any pandas-UDF operator moves columnar batches, not rows.

Per-task cost of Python UDFs: every Python UDF task used to spend 130-300
ms before its first row, re-reading ``pyspark.zip``'s directory once per
zipimporter in ``importlib.invalidate_caches()`` (CPython < 3.12). A
:func:`get_spark` session forks its Python workers from
:mod:`flinkproject_spark.pydaemon`, which re-reads an archive only when it
changed; the call now takes well under 1 ms. Sessions built elsewhere
(:func:`configure`) keep pyspark's daemon, because the conf is static.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Production state-backend posture (the reference's Flink jobs imply a
# RocksDB backend for keyed state): set SPARK_GRAFT_STATE_STORE=rocksdb to
# run every stateful streaming operator on Spark's bundled RocksDB state
# store provider instead of the default in-memory HDFS-backed one. At
# 100 TB / 10^9 keys the RocksDB provider keeps state off-heap and spills
# to local SSD; the default provider holds every key's state in executor
# memory. The conf is runtime-settable and read at streaming-query start,
# so tests can exercise both providers on one session.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_STORE_ENV = "SPARK_GRAFT_STATE_STORE"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def state_store_conf() -> dict[str, str]:
    if os.environ.get(_STATE_STORE_ENV, "").lower() == "rocksdb":
        return {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    return {}


def get_spark(
    app_name: str = "flinkproject-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Works both when we own the session (tests, bench) and when the driver
    hands us one (``__spark_entry__.entry``) — in the latter case use
    :func:`configure` instead.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the testdata stores TIMESTAMP(MICROS, not UTC-adjusted); an
        # events.parquet from older testdata stores TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects by default: read it as long and
        # convert (catalog.load_table does the conversion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static: the daemon that forks every Python UDF worker (pydaemon),
        # importable by the workers wherever the driver was started from
        .config("spark.python.daemon.module", "flinkproject_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in {**state_store_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session confs to an externally-created session.

    The driver constructs its own SparkSession for the contract functions in
    ``__spark_entry__``; these confs are all runtime-mutable so correctness
    (timezone, nanos decoding) does not depend on who built the session.
    """
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # a loaded shared JVM (full test suite, 32 concurrent tasks) can
        # push a broadcast build past the 300 s default and fail an
        # otherwise-correct plan; double the budget
        "spark.sql.broadcastTimeout": "600",
        **state_store_conf(),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    return spark
