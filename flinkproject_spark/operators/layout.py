"""Data-layout optimization: Z-order (Morton) clustering for
multi-dimensional scan pruning.

The engine's scan economics at 100 TB are decided before any operator
runs: parquet footers carry per-file / per-row-group min-max stats, and a
filter prunes a file iff the file's value RANGE misses the predicate. A
sort on one column makes that column's ranges tight and every other
column's ranges full-width — point queries on the second dimension read
the whole table. Interleaving the bits of d columns (Morton order) makes
every file cover an ~d-dimensional cube: each dimension's per-file range
shrinks to ~2^(-bits/d) of the domain, so filters on ANY prefix-free
combination of the interleaved columns prune.

Pure integer bit arithmetic (shift/and/or compositions the DuckDB oracle
reproduces exactly), entirely inside whole-stage codegen. The write side
is `repartitionByRange(zkey)` + `sortWithinPartitions(zkey)` — one range
shuffle, the same cost as any global sort, paid once at ingest and
amortized over every subsequent scan.

Reference parity: the reference engine has no layout tier (it scans
Kafka); this is north-star extension surface. Public formulation:
Morton 1966; the Delta/Iceberg OPTIMIZE ZORDER BY feature family.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[str | Column], bits: int = 8) -> Column:
    """Interleave the low `bits` bits of d non-negative integer columns
    into one Morton key (d*bits bits): bit b of column i lands at
    position b*d + i. Columns are folded into range with pmod first, so
    any integer input is safe; callers who need full-domain pruning pick
    `bits` >= log2(domain).

    Expression shape: d*bits (shift, mask, shift) terms OR-composed via
    sum — constants fold, the whole key is one codegen'd projection, no
    shuffle, no UDF."""
    d = len(cols)
    if d < 2:
        raise ValueError("zorder_key: interleaving needs >= 2 columns")
    parts = []
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        folded = F.pmod(col.cast("bigint"), F.lit(1 << bits))
        for b in range(bits):
            bit = F.shiftright(folded, b).bitwiseAND(F.lit(1))
            parts.append(F.shiftleft(bit, b * d + i))
    return reduce(lambda a, x: a + x, parts).alias("zkey")


def zorder_layout(
    df: DataFrame, cols: list[str], path: str, n_files: int, bits: int = 8
) -> None:
    """Write `df` Z-clustered on `cols`: range-partition by the Morton
    key into `n_files` files, sorted within each so row-group stats are
    tight too. Footer min-max stats of EVERY interleaved column become
    selective — see `file_ranges` for the measured effect.

    Each column is min-max scaled to the shared `bits` width first (one
    1-row bounds aggregate broadcast back — bounded metadata), so
    dimensions with disparate domains interleave at comparable
    significance. Without this, a 2^27-domain user_id next to a 9-bit
    day-of-year leaves the key's high bits owned entirely by the wide
    column and the narrow one never clusters — measured in
    BENCH_ZORDER.md as day-pruning collapsing to a full 64/64-file scan.
    (Delta/Iceberg OPTIMIZE ZORDER range-bucket each column for the same
    reason.) With scaling, bits=8 gives 2^(8d) Z-cells — ample for any
    realistic n_files — independent of raw column domains."""
    bounds = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    )
    # divide-first form: bucket width = ceil(span / 2^bits), scaled =
    # (c - lo) div width. Multiply-first ((c - lo) * 2^bits) overflows
    # int64 for domains wider than ~2^(63-bits) (hashed/snowflake ids
    # span the full 2^64) — wrapping negative and silently destroying
    # the clustering. (c - lo) itself is the one remaining overflow
    # (span > 2^63 needs both extremes present); width >= span/2^bits
    # keeps every scaled value in [0, 2^bits).
    scaled = [
        F.expr(
            f"({c} - __lo_{c}) div "
            f"(((__hi_{c} - __lo_{c}) div {1 << bits}) + 1)"
        )
        for c in cols
    ]
    # The range exchange picks file boundaries from a sample that Spark
    # seeds with the RDD id, so at the default 100 keys per file the
    # boundaries, and so the pruning, change with how many RDDs the
    # session made before (a 16-file layout measured 7-10 files touched
    # for one point query). 1,000 keys per file (Spark caps the total at
    # 10^6) samples a small input whole and a large one finely.
    conf = df.sparkSession.conf
    sample_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = conf.get(sample_key, None)
    conf.set(sample_key, "1000")
    try:
        (
            df.crossJoin(F.broadcast(bounds))
            .withColumn("zkey", zorder_key(scaled, bits))
            .repartitionByRange(n_files, "zkey")
            .sortWithinPartitions("zkey")
            .drop("zkey", *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols])
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if prev is None:
            conf.unset(sample_key)
        else:
            conf.set(sample_key, prev)


def file_ranges(path: str, cols: list[str]) -> list[dict]:
    """Per-file min-max footer stats for `cols` — the exact metadata a
    scan planner prunes with. Reads ONLY parquet footers (pyarrow), no
    data pages; one dict per file with (file, min_<c>, max_<c>)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    out = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        row = {"file": f.name}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo, hi = None, None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            row[f"min_{c}"], row[f"max_{c}"] = lo, hi
        out.append(row)
    return out


def files_touched(ranges: list[dict], point: dict) -> int:
    """How many files a conjunctive point query must read given footer
    stats: file survives pruning iff every predicate column's value lies
    inside the file's [min, max]."""
    n = 0
    for r in ranges:
        if all(
            r[f"min_{c}"] is not None and r[f"min_{c}"] <= v <= r[f"max_{c}"]
            for c, v in point.items()
        ):
            n += 1
    return n


def zorder_cell_stats(events: DataFrame, bits: int = 8) -> DataFrame:
    """The audit query for the Z-layout: bucket events by the TOP 8 bits
    of the Morton key over (user_id mod 256, dayofyear mod 256) — i.e.
    the 256 coarsest Z-cells, exactly the granularity a 256-file layout
    would split at — and report each cell's population and per-dimension
    min/max. Tight (max-min) spans in BOTH dimensions are the pruning
    property itself, value-verified by the oracle's identical bit math.
    """
    x = F.pmod(F.col("user_id"), F.lit(256))
    y = F.pmod(F.dayofyear(F.to_date("ts")), F.lit(256))
    z = zorder_key([x, y], bits)
    cell = F.shiftright(z, 2 * bits - 8).alias("zcell")
    return (
        events.select(cell, x.alias("x"), y.alias("y"))
        .groupBy("zcell")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )
