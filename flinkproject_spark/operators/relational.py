"""Relational / dataflow core operators (SURVEY.md §2 A1-A5, A17, A18).

All of these stay inside whole-stage codegen: projections, filters,
explodes, unions, top-N, filtered aggregates built purely from
`pyspark.sql.functions`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flinkproject_spark import functions as K


# ---------------------------------------------------------------------------
# A1 — map / projection with field derivation
# ---------------------------------------------------------------------------
def project_orders(orders: DataFrame) -> DataFrame:
    """POJO-style projection + derived date/hour fields.

    Reproduces OrderInfo construction: parse create_time, derive
    create_date / create_hour / create_ts (reference:
    app/dwm/OrderWideApp.java:74-96, bean/OrderInfo.java:30-36).
    """
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        K.money("o_totalprice").cast("double").alias("total_amount"),
        K.ts_to_str("o_orderdate").alias("create_time"),
        K.create_date("o_orderdate").alias("create_date"),
        K.create_hour("o_orderdate").alias("create_hour"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("create_ts"),
    )


# ---------------------------------------------------------------------------
# A2 — filter / predicate (incl. JSON field predicates)
# ---------------------------------------------------------------------------
def filter_events(events: DataFrame, drop_type: str = "error", min_k: int = 50) -> DataFrame:
    """Predicate filter with a JSON field condition.

    The reference drops CDC `delete` rows (app/dwd/BaseDBApp.java:56-62) and
    filters on JSON map fields in SQL (app/dws/KeywordStatsApp.java:45-52).
    Here: drop `drop_type` events and keep rows whose props JSON field `k`
    exceeds `min_k` — same shape: type-discriminator filter + JSON access.
    """
    return events.filter(
        (F.col("event_type") != drop_type)
        & (K.json_str("props", "k").cast("int") > F.lit(min_k))
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


# ---------------------------------------------------------------------------
# A3 — flatMap / explode
# ---------------------------------------------------------------------------
def explode_words(documents: DataFrame) -> DataFrame:
    """Fan each document out into one row per token.

    Analog of exploding the `displays` JSON array with page_id injected
    before the explode (reference: app/dwd/BaseLogApp.java:115-124,
    app/dws/ProductStatsApp.java:97-112): parent keys travel with each
    exploded element.
    """
    return documents.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"),
    )


# ---------------------------------------------------------------------------
# A4 — multi-way split (side-output analog)
# ---------------------------------------------------------------------------
PAGE_TYPES = ("view", "click")
START_TYPES = ("signup",)


def split_event_routes(events: DataFrame) -> dict[str, DataFrame]:
    """Route one parsed stream to page / start / display / dirty channels.

    Flink side outputs (reference: app/dwd/BaseLogApp.java:53-68,100-130)
    become N filtered sub-DataFrames off one shared source; Catalyst reuses
    the scan, and each channel gets its own sink. 'dirty' = rows whose props
    JSON fails to parse (the BaseLogApp.java:53-68 dirty-data side output).
    """
    parsed = events.withColumn("k", K.json_str("props", "k").cast("int"))
    return {
        "page": parsed.filter(F.col("event_type").isin(*PAGE_TYPES)),
        "start": parsed.filter(F.col("event_type").isin(*START_TYPES)),
        "display": parsed.filter(~F.col("event_type").isin(*PAGE_TYPES, *START_TYPES)),
        "dirty": parsed.filter(F.col("k").isNull()),
    }


def split_route_summary(events: DataFrame) -> DataFrame:
    """Auditable summary of the A4 split: per-route row count + value sum."""
    routes = split_event_routes(events)
    parts = [
        df.select(F.lit(name).alias("route"), "event_id", "value")
        for name, df in routes.items()
        if name != "dirty"
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("route").agg(
        F.count("*").alias("ct"),
        K.money_sum("value").alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# A5 — union of homogeneous streams
# ---------------------------------------------------------------------------
def union_measure_streams(events: DataFrame) -> DataFrame:
    """Union N homogeneous measure streams into one.

    Mirrors VisitorStatsApp's union of pv/uv/bounce streams, each first
    normalized to the same wide schema with zeroed other-measures
    (reference: app/dws/VisitorStatsApp.java:59-114): each input becomes
    (user_id, ts, pv_ct, uv_ct, sv_ct) rows with exactly one live measure.
    """
    pv = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.lit(1).alias("pv_ct"), F.lit(0).alias("uv_ct"), F.lit(0).alias("sv_ct"),
    )
    uv = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(0).alias("pv_ct"), F.lit(1).alias("uv_ct"), F.lit(0).alias("sv_ct"),
    )
    sv = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts",
        F.lit(0).alias("pv_ct"), F.lit(0).alias("uv_ct"), F.lit(1).alias("sv_ct"),
    )
    return pv.unionByName(uv).unionByName(sv)


# ---------------------------------------------------------------------------
# A17 — sort + top-N (serving layer)
# ---------------------------------------------------------------------------
def topn_gmv_by_brand(lineitem: DataFrame, part: DataFrame, n: int = 10) -> DataFrame:
    """GMV by brand, top-N (reference: publisher ProductStatsMapper.java:26 —
    `group by tm_name order by order_amount desc limit N`).

    p_brand stands in for tm_name (FIXTURES.md §2.4). The dim side is tiny ->
    broadcast join; orderBy+limit compiles to TakeOrderedAndProject (no full
    sort at scale). Ties broken by brand name for determinism.
    """
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("tm_name"))
        .agg(F.sum(K.revenue("l_extendedprice", "l_discount")).cast("double").alias("order_amount"))
        .orderBy(F.desc("order_amount"), F.asc("tm_name"))
        .limit(n)
    )


# ---------------------------------------------------------------------------
# A18 — batch filter-aggregate (serving layer)
# ---------------------------------------------------------------------------
def gmv_for_day_range(orders: DataFrame, start_yyyymmdd: str, end_yyyymmdd: str) -> DataFrame:
    """Total GMV for a date window (reference: publisher
    ProductStatsMapper.java:12 — `sum(order_amount) where toYYYYMMDD(stt)=#{date}`),
    generalized to a range so the predicate prunes at the parquet scan."""
    return (
        orders.filter(
            (K.yyyymmdd("o_orderdate") >= start_yyyymmdd)
            & (K.yyyymmdd("o_orderdate") <= end_yyyymmdd)
        )
        .groupBy(K.yyyymmdd("o_orderdate").alias("dt"))
        .agg(
            K.money_sum("o_totalprice").alias("gmv"),
            F.count("*").alias("order_ct"),
        )
    )


# ---------------------------------------------------------------------------
# Serving-layer extensions beyond A17/A18: rollup + ranked top-N per group
# ---------------------------------------------------------------------------
def gmv_rollup(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """GMV and order counts at region, nation, and grand-total grain in one
    pass via ROLLUP (subtotal levels a dashboard drills through).

    Beyond the reference's serving SQL (single-grain GROUP BY only —
    publisher ProductStatsMapper.java:12,26); added because multi-grain
    subtotals are standard serving-layer surface. ROLLUP computes all three
    grains in one shuffle (Expand x3 before the partial aggregate) instead
    of three scans+unions. Dim hops are broadcasts; rolled-up name levels
    surface as 'ALL' (the dims are never null, so the sentinel is
    unambiguous)."""
    enriched = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        enriched.rollup("r_name", "n_name")
        .agg(
            K.money_sum("o_totalprice").alias("order_amount"),
            F.count("*").alias("order_ct"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "order_amount",
            "order_ct",
        )
    )


def topn_customers_per_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, n: int = 3
) -> DataFrame:
    """Top-N customers by total order amount within each nation, via
    row_number over a per-nation spend ranking (ties broken by customer id
    for determinism).

    Beyond the reference's global top-N (A17); added because ranked
    top-N-per-group is the standard serving query Spark answers with a
    rank window after the aggregate. The expensive shuffle is the per-
    (nation, customer) aggregate; the rank window then repartitions only
    the aggregated (small) result by nation. At extreme group counts the
    window input stays bounded because aggregation precedes ranking."""
    from pyspark.sql import Window

    spend = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.col("c_custkey").alias("cust_id"))
        .agg(
            K.money_sum("o_totalprice").alias("total_spend"),
            F.count("*").alias("order_ct"),
        )
    )
    w = Window.partitionBy("nation_name").orderBy(
        F.desc("total_spend"), F.asc("cust_id")
    )
    return (
        spend.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= n)
        .select("nation_name", "rank", "cust_id", "total_spend", "order_ct")
    )


def order_value_percentiles(orders: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 order value per order status — the serving-layer
    distribution query (beyond the reference's sum/count-only serving SQL).

    Uses Spark's exact `percentile` (linear interpolation, same convention
    as DuckDB quantile_cont — verified bit-identical). Exact percentiles
    sort within each group; at 100 TB swap in `approx_percentile`
    (t-digest, single pass, no sort) — same query shape, documented
    accuracy knob."""
    return orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
        F.count("*").alias("order_ct"),
    )


def order_value_percentiles_approx(
    orders: DataFrame, accuracy: int = 1000, pad: float = 0.01
) -> DataFrame:
    """The quantile-sketch scale valve made first-class AND certified —
    completing the sketch family next to the HLL distinct certificate
    (`windows.product_stats_approx_certified`): `approx_percentile`
    (Greenwald-Khanna) replaces the exact per-group sort at 100 TB, and
    the query emits the exact percentiles plus a deterministic
    `approx_ok` flag instead of the sketch values themselves.

    Why the flag and not the values: GK's merge result depends on
    partition arrival order, so the approximate VALUES are not
    run-deterministic — but the rank-error GUARANTEE (|rank/n - q| <=
    1/accuracy for any merge order) is. The flag asserts each sketch
    value lies between the exact interpolated percentiles at q -/+ pad —
    a distribution-free containment by monotonicity of the quantile
    function, so a DuckDB oracle predicts TRUE without reproducing the
    sketch. The containment needs pad >= 1/accuracy + 2/n (interpolation
    slack), so groups SMALLER than the implied floor (n < 2/(pad -
    1/accuracy), ~223 rows at the defaults) pass trivially — below that
    the sketch answer IS a retained exact sample and the exact path is
    the only sensible tier anyway; the flag stays deterministic at every
    group size instead of false-failing on small groups.

    All nine exact quantiles come from ONE array-argument percentile
    (single per-group buffer), not nine independent aggregates, and the
    three sketch probes share one percentile_approx buffer — the memory
    posture a 100 TB scale valve must have.
    """
    price = "o_totalprice"
    qs = (0.5, 0.9, 0.99)
    probe_qs = [x for q in qs for x in (max(0.0, q - pad), min(1.0, q + pad))]
    floor = int(2.0 / (pad - 1.0 / accuracy)) + 1
    exact = F.percentile(price, F.array(*[F.lit(q) for q in list(qs) + probe_qs]))
    approx = F.percentile_approx(
        price, F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
    )
    agg = orders.groupBy("o_orderstatus").agg(
        exact.alias("ex"), approx.alias("ap"), F.count("*").alias("order_ct")
    )
    contained = None
    for i in range(len(qs)):
        lo = F.col("ex")[3 + 2 * i]
        hi = F.col("ex")[3 + 2 * i + 1]
        c = (F.col("ap")[i] >= lo) & (F.col("ap")[i] <= hi)
        contained = c if contained is None else (contained & c)
    return agg.select(
        "o_orderstatus",
        F.col("ex")[0].alias("p50"),
        F.col("ex")[1].alias("p90"),
        F.col("ex")[2].alias("p99"),
        "order_ct",
        ((F.col("order_ct") < floor) | contained).alias("approx_ok"),
    )


def cms_frequency_report(
    events: DataFrame, d: int = 4, w: int = 256, k: int = 20
) -> DataFrame:
    """Count-Min Sketch heavy-hitter report — the FREQUENCY member of the
    sketch family (HLL certifies distinct counts, GK certifies
    quantiles, CMS bounds per-key counts in fixed memory): d x w
    counters, each event incrementing one bucket per hash row, estimate =
    min over rows — deterministic and overestimate-only by construction
    (Cormode & Muthukrishnan 2005).

    Built on the cross-engine md5 kernel (K.hash64, 'cms:{row}:{key}'
    namespace), so unlike Spark's opaque `count_min_sketch` binary the
    ENTIRE sketch — counters, estimates, overshoot — is reproduced
    bit-for-bit by the DuckDB oracle: the estimates themselves are
    value-verified, not just certified through a flag.

    Scale posture: the counter build is one narrow x`d` explode and ONE
    groupBy over (row, bucket) — d*w counters total, map-side partial
    aggregation, mergeable across partitions/streams by addition (the
    property that makes CMS the streaming heavy-hitter structure). The
    top-k exact side aggregates per key then uses orderBy+limit (Spark
    compiles TakeOrdered — per-partition top-k, never a global sort);
    ties break on the STRING key so both engines rank identically. The
    exact counts exist to measure the sketch (this is a calibration
    report, cf. minhash_pr_report); production reads estimates alone.

    Returns (user_id, exact_ct, cms_est, overshoot, sound): overshoot =
    collision inflation (0 = no colliding keys in any of the d rows),
    sound = est >= exact, TRUE by construction — a FALSE row means the
    hash wiring is broken, which is exactly what the oracle would catch.
    """
    # ONE corpus pass: the per-key exact counts (needed for calibration
    # anyway) build the counters too; counters and top-k both read them
    exact = _cms_key_counts(events).localCheckpoint(eager=False)
    counters = _cms_counters_from_counts(exact, d, w)
    top = exact.orderBy(F.desc("exact_ct"), F.asc("key")).limit(k)
    probes = _cms_probe_rows(top, d, w)
    est = (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("key", "exact_ct")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("key").cast("bigint").alias("user_id"),
        "exact_ct",
        "cms_est",
        (F.col("cms_est") - F.col("exact_ct")).alias("overshoot"),
        (F.col("cms_est") >= F.col("exact_ct")).alias("sound"),
    )


def cms_counters(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """The Count-Min Sketch's MERGEABLE unit: the (i, bucket, c) counter
    table of `events` — d x w counters at most, whatever the input
    volume. Counters merge by ADDITION across any partition of the input
    (executor, micro-batch, day), so the streaming sink appends
    batch-local tables and the reader folds them by SUM; the result is
    the counter table cms_frequency_report estimates from."""
    return _cms_counters_from_counts(_cms_key_counts(events), d, w)


def _cms_key_counts(events: DataFrame) -> DataFrame:
    return (
        events.select(F.col("user_id").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("exact_ct"))
    )


def _cms_probe_rows(keyed: DataFrame, d: int, w: int) -> DataFrame:
    """`keyed` (carrying a string `key`) exploded to its d (i, bucket)
    cells: the one copy of the 'cms:{row}:{key}' bucket hash."""
    return keyed.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(d - 1)))
    ).withColumn(
        "bucket",
        F.pmod(
            K.hash64(
                F.concat(F.lit("cms:"), F.col("i").cast("string"), F.lit(":"), F.col("key"))
            ),
            F.lit(w),
        ),
    )


def _cms_counters_from_counts(exact: DataFrame, d: int, w: int) -> DataFrame:
    """Counter build over a (key, exact_ct) frame: each bucket's count is
    the SUM of its colliding keys' counts, so exploding the
    key-cardinality aggregate d ways is bit-identical to exploding the
    raw event stream and far smaller (r11 optimization; the r10 form
    scanned events twice and exploded every event row x d)."""
    return (
        _cms_probe_rows(exact, d, w)
        .groupBy("i", "bucket")
        .agg(F.sum("exact_ct").alias("c"))
    )


# HyperLogLog geometry: 60-bit md5 hash -> low HLL_P bits pick the register,
# the remaining HLL_W bits feed the leading-zero rank rho in [1, HLL_W+1].
# The register harmonic sum is kept as an INTEGER (each 2^-rho term scaled
# by 2^(HLL_W+1) stays a whole number, and 2^m * 2^(HLL_W+1) < 2^62), so
# summation order can't perturb a single bit — the same exactness trick as
# the CMS/MinHash tiers. alpha_64 per Flajolet et al. 2007.
HLL_P = 6  # m = 64 registers
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P
HLL_ALPHA = 0.709  # alpha_m for m = 64
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_W + 1))  # est numerator
HLL_LC_GATE = 2.5 * HLL_M  # raw_est below this + empty registers -> LC
# Linear-counting needs ln(m/V) — libm's last bit is engine-dependent, but
# V ranges over 1..m-1 only, so the 63 possible values are embedded as
# decimal literals BOTH engines parse to the identical double: no libm in
# the estimate path at all.
import math as _math

HLL_LC_TABLE = [_math.log(HLL_M / v) for v in range(1, HLL_M)]


def _hll_rho(y: Column) -> Column:
    """rho = leading zeros of the HLL_W-bit suffix + 1, via the minimal
    binary string (F.bin / DuckDB bin agree: no leading zeros)."""
    return F.when(y == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(y))
    )


def _hll_keys(events: DataFrame) -> DataFrame:
    return events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("scope"),
        F.col("user_id").cast("string").alias("key"),
    )


def hll_registers(events: DataFrame) -> DataFrame:
    """Per-(day, register) max-rho table — the sketch's whole state: at
    most days*HLL_M rows whatever the input volume, built with one
    map-side-partial MAX groupBy. This is the unit that MERGES: max over
    any partition of the input (executor, micro-batch, day) equals the
    max over the whole, so the streaming writer appends batch-local
    registers and the reader folds them with the same MAX."""
    return _hll_registers_from_keys(_hll_keys(events))


def _hll_registers_from_keys(keys: DataFrame) -> DataFrame:
    """Register build over a (scope, key) frame — factored so the report
    can feed it the DISTINCT key table it already needs for calibration
    (max(rho) is duplicate-invariant, so registers from the distinct set
    are bit-identical to registers from the raw stream)."""
    x = K.hash64(F.concat(F.lit("hll:"), F.col("key")))
    # shiftright is exact integer x // 2^HLL_P; floor(x / HLL_M) would
    # round the 60-bit hash through float64 first (lossy above 2^53),
    # breaking the module's bit-exact contract with the oracle's x // 64.
    hashed = keys.withColumn("reg", F.pmod(x, F.lit(HLL_M))).withColumn(
        "rho", _hll_rho(F.shiftright(x, HLL_P).cast("bigint"))
    )
    return hashed.groupBy("scope", "reg").agg(F.max("rho").alias("rho"))


def hll_estimates(registers: DataFrame) -> DataFrame:
    """Raw-HLL estimates from a (scope, reg, rho) register table, plus the
    '__all__' max-merge row. The harmonic sum is kept INTEGER (each
    2^-rho term scaled by 2^(HLL_W+1) is whole, and the total fits
    bigint), so summation order can't perturb a bit in either engine;
    empty registers contribute the full-scale term via the n_regs
    complement rather than a generate-join."""
    merged = (
        registers.groupBy("reg")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("__all__").alias("scope"), "reg", "rho")
    )
    regs = registers.unionByName(merged)
    term = F.pow(F.lit(2.0), F.lit(HLL_W + 1) - F.col("rho")).cast("bigint")
    sums = regs.groupBy("scope").agg(
        F.sum(term).alias("s_hit"),
        F.count("*").alias("n_regs"),
    )
    s_all = F.col("s_hit") + (F.lit(HLL_M) - F.col("n_regs")) * F.lit(
        1 << (HLL_W + 1)
    )
    raw = F.lit(HLL_NUM) / s_all.cast("double")
    v = F.lit(HLL_M) - F.col("n_regs")
    # small-range correction (Flajolet et al. 2007): raw HLL overestimates
    # badly while most registers are empty; below the 2.5m gate switch to
    # linear counting m*ln(m/V) — via the literal table, so the branch AND
    # the corrected value are bit-identical across engines
    lc = F.lit(float(HLL_M)) * F.element_at(
        F.array(*[F.lit(x) for x in HLL_LC_TABLE]), v.cast("int")
    )
    est = F.when((v > 0) & (raw <= F.lit(HLL_LC_GATE)), lc).otherwise(raw)
    return sums.select(
        "scope",
        v.alias("v_empty"),
        F.round(est, 4).alias("hll_est"),
    )


def hll_distinct_report(events: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count report — the CARDINALITY member of the
    sketch family (CMS bounds frequencies, HLL estimates distincts in
    m registers of 6 bits each; Flajolet-Fuchs-Gandouet-Meunier 2007).
    One row per DAY (the unique-visitor sketch — same UV semantics as
    the reference's UniqueVisitApp, in 64 registers instead of per-key
    state) plus a '__all__' row whose registers are the MAX-MERGE of the
    per-day registers — merge-equals-direct holds by construction (max
    is associative over the shared hash), which is the property that
    makes HLL the streaming/distributed distinct structure: partial
    registers merge across partitions, micro-batches, or days with no
    loss, so lifetime UV costs 64 integers per day retained.

    Built on the md5 kernel ('hll:' namespace) rather than Spark's opaque
    approx_count_distinct binary, so registers, harmonic sum AND estimate
    are reproduced bit-for-bit by the DuckDB oracle — the estimate itself
    is value-verified, not certified through a tolerance flag. The
    small-range linear-counting correction (m*ln(m/V) below the 2.5m
    gate) IS applied — ln() is libm-dependent, so the 64 possible values
    are embedded as the HLL_LC_TABLE literal both engines index by
    V; v_empty is emitted so a reader can see when the branch fired, and
    rel_err against the exact count measures the sketch honestly.

    Scale posture: register build = one narrow projection + ONE groupBy
    over (scope, reg) with map-side partial MAX — at most types*64 rows
    ever shuffle regardless of input volume. The exact distincts exist to
    CALIBRATE the sketch (cf. cms_frequency_report, minhash_pr_report);
    production reads estimates alone and skips those aggregations.
    """
    # ONE corpus pass: the distinct (scope, key) table serves the register
    # build (max(rho) is duplicate-invariant) AND both exact calibration
    # counts — the r10 form scanned events four times (registers, per-day
    # countDistinct, global countDistinct), each pass shuffling its own
    # distinct-rewrite of the same keys (r11 optimization). NULL keys are
    # dropped BEFORE the distinct (r12, ADVICE r11): countDistinct — the
    # r10 exact calibration — excludes NULLs, while count(*) over the
    # distinct table would count a NULL key as one extra distinct value
    # per scope if user_id were ever NULL.
    d = (
        _hll_keys(events)
        .where(F.col("key").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    sketch = hll_estimates(_hll_registers_from_keys(d))
    exact_type = d.groupBy("scope").agg(F.count("*").alias("exact_u"))
    exact_all = (
        d.select("key")
        .distinct()
        .agg(F.count("*").alias("exact_u"))
        .select(F.lit("__all__").alias("scope"), "exact_u")
    )
    exact = exact_type.unionByName(exact_all)
    return sketch.join(exact, "scope").select(
        "scope",
        "exact_u",
        "v_empty",
        "hll_est",
        F.round(
            F.abs(F.col("hll_est") - F.col("exact_u")) / F.col("exact_u"), 4
        ).alias("rel_err"),
    )


def daily_event_type_pivot(events: DataFrame) -> DataFrame:
    """Per-day crosstab: one column per event type with summed values — the
    dashboard pivot the reference's serving layer reshapes driver-side
    (SugarController.java:36-52 builds {brand: amount} maps by hand).

    Spark `pivot` with an EXPLICIT type list: passing the values avoids the
    extra distinct-collection job, keeps the plan static for streaming
    reuse, and compiles to one conditional aggregate (single shuffle) —
    the form that survives any fact-table scale."""
    types = ["view", "click", "signup", "purchase", "error"]
    return (
        events.withColumn("dt", F.to_date("ts"))
        .groupBy("dt")
        .pivot("event_type", types)
        .agg(K.money_sum("value"))
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("dt"),
            *[F.coalesce(t, F.lit(0.0)).alias(f"{t}_sum") for t in types],
        )
    )


def customer_running_spend(orders: DataFrame) -> DataFrame:
    """Cumulative spend per customer in order-date order — the running-
    total window function surface the reference lacks entirely (no ranking
    or cumulative windows — SURVEY §2E).

    One shuffle+sort on the customer key (same cost as any sort-merge
    stage); rows within a frame accumulate with the exact decimal sum. The
    frame is ROWS-based with a deterministic (date, orderkey) order so
    same-day orders accumulate in a reproducible sequence."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        K.ts_to_str("o_orderdate").alias("o_orderdate"),
        F.sum(K.money("o_totalprice")).over(w).cast("double").alias("running_spend"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
    )


# ---------------------------------------------------------------------------
# Order-amount proration (the computation behind OrderWide's split_* fields)
# ---------------------------------------------------------------------------
def prorate_order_amount(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Allocate each order's total across its line items proportionally to
    line price, EXACTLY: integer-cents largest-remainder apportionment, so
    per-order split sums reproduce o_totalprice to the cent (the
    reconciliation property BI teams audit).

    The reference's OrderWide bean carries split_total_amount as an
    upstream field (bean/OrderWide.java:30-32,104-106); this implements
    the allocation itself. All arithmetic is bigint cents — floor shares
    via integer division, then the leftover cents go to the largest
    remainders (ties by line number) — bit-identical across engines, no
    float rounding anywhere.

    Plan: one window partitioning by orderkey carries the per-order sum,
    the remainder rank, and the leftover count — one shuffle total.
    """
    from pyspark.sql import Window

    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    total_cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    j = lineitem.select(
        "l_orderkey", "l_linenumber", cents.alias("line_cents")
    ).join(
        orders.select("o_orderkey", total_cents.alias("total_cents")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    w = Window.partitionBy("l_orderkey")
    j = j.withColumn("order_line_cents", F.sum("line_cents").over(w))
    # exact bigint `div`/`%`, never float division + floor: the double
    # quotient's last-ulp rounding can flip the floor by one cent and
    # desync from the oracle's integer division
    j = (
        j.withColumn(
            "base_cents",
            F.expr("(total_cents * line_cents) div order_line_cents"),
        )
        .withColumn(
            "rem",
            F.expr("(total_cents * line_cents) % order_line_cents"),
        )
        .withColumn("leftover", F.col("total_cents") - F.sum("base_cents").over(w))
        .withColumn(
            "rr",
            F.row_number().over(
                Window.partitionBy("l_orderkey").orderBy(
                    F.desc("rem"), F.asc("l_linenumber")
                )
            ),
        )
    )
    split = F.col("base_cents") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return j.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        (split.cast("double") / 100.0).alias("split_total_amount"),
    )


# ---------------------------------------------------------------------------
# mergeable fixed-bin histogram -> quantile sketch
# ---------------------------------------------------------------------------
HISTQ_BINS = 256
HISTQ_PCTS = (50, 90, 99)


def _histq_clean(vd):
    """The histogram sketch's dirty-input filter, ONE copy for the batch
    report and the streaming deltas (their parity on dirty rows is the
    contract): keep only FINITE doubles. vd must be the CAST double —
    vd.isNotNull() then drops both raw NULLs and values the cast nulls
    out (isnan(NULL) is false in Spark, so a failed cast would otherwise
    survive into a spurious NULL bin / the deltas' top bin); ~isnan
    drops NaN; the two comparisons drop +/-Infinity, which passes both
    earlier checks and then blows up the bigint quantize cast under
    ANSI (CAST_OVERFLOW — r11 review) or poisons hi under non-ANSI.
    DuckDB's oracle cast errors on all of these, so dropping them is
    also the cross-engine-parity move."""
    return (
        vd.isNotNull()
        & ~F.isnan(vd)
        & (vd > F.lit(float("-inf")))
        & (vd < F.lit(float("inf")))
    )


def histogram_quantile_report(
    events: DataFrame,
    n_bins: int = HISTQ_BINS,
    pcts: tuple[int, ...] = HISTQ_PCTS,
) -> DataFrame:
    """Fixed-bin histogram quantiles — the QUANTILE member of the sketch
    family built on the same exactness discipline as its siblings (CMS
    bounds frequencies, HLL estimates distincts, MinHash similarity):
    values quantized round(v*1000) -> int64, binned against GLOBAL edges
    by pure integer arithmetic (`div`), so counters, cumulative ranks
    AND the reported quantile edges are bit-reproduced by the oracle —
    the estimate is value-verified, not tolerance-certified (contrast
    order_value_percentiles_approx, whose GK sketch is opaque and only
    rank-error-CERTIFIED).

    Mergeability is the point: with shared edges the counters merge by
    ADDITION across partitions, micro-batches, or scopes — the '__all__'
    row is computed from the SUM-merge of the per-type counters, never
    from raw rows, so merge-equals-direct is exercised by construction
    (the same property HLL proves with max-merge). n_bins counters per
    scope whatever the input volume.

    Quantile rule: q_p = lower edge of the smallest bin whose cumulative
    count reaches ceil(p*n/100), compared as 100*cum >= n*p in integers
    (the shared :func:`_histq_quantile_select` tail — one copy of the
    load-bearing rule, also serving histq_quantiles_from_counters).
    Reference parity: the reference serves only exact per-key aggregates;
    this is north-star sketch surface (fixed-bin equi-width histograms
    are the textbook mergeable quantile structure, cf. Greenwald-Khanna
    2001 for the rank-error family Spark's approx_percentile implements).
    Edges are emitted in QUANTIZED units (bigint, value*1000): the
    sketch's resolution is span/n_bins, and reporting the exact integer
    edge keeps the cross-engine contract float-free end to end.
    Binning is DIVIDE-FIRST — width = (hi-lo) div n_bins + 1, bin =
    (q-lo) div width — never (q-lo)*n_bins, whose product overflows
    int64 once the quantized span nears 2^55 (the same valve
    zorder_layout uses for its bucket scaling). Dirty values (NULL,
    failed casts, NaN, +/-Infinity) are dropped by :func:`_histq_clean`
    on the CAST double BEFORE the bigint quantize step — one copy of
    the filter shared with histq_bin_deltas, matching the DuckDB
    oracle's cast-error behavior (r10/r11 reviews).

    Scale posture: one 1-row (min, max) aggregate broadcast back (the
    bounded-metadata discipline), one narrow projection, ONE groupBy
    over (scope, bin) with map-side partials — at most scopes*n_bins
    rows ever shuffle; the quantile selection is a window over those
    counter rows only. Two passes over the data (bounds, counts) is the
    textbook trade for data-independent edges; a streaming deployment
    pins edges from history and drops to one pass.

    LAZINESS CAVEAT (ADVICE r11): unlike every other plan builder in
    this module, calling this function runs ONE eager job — the 2-int
    (min, max) bounds collect — so the lo/hi literals are frozen at
    call time (rebuild the plan if the input changes before execution),
    and anything that merely constructs or explains the plan still pays
    that bounds scan. The r11 measurement keeps it: inlining the two
    ints removed three corpus scans from the executed plan."""
    vd = F.col("value").cast("double")
    q = F.round(vd * F.lit(1000.0), 0).cast("bigint")
    base = events.where(_histq_clean(vd)).select(
        F.col("event_type").alias("scope"), q.alias("q")
    )
    # the (min, max) bounds are 2 int64s of metadata consumed by TWO
    # downstream subplans (the binning pass and the edge report); collect
    # them once instead of broadcasting the 1-row aggregate into both —
    # the r10 form re-executed the bounds aggregate (and its corpus scan)
    # per consumer (r11 optimization; bounded-metadata collect, same
    # discipline as the centroid closures)
    b = base.agg(F.min("q").alias("lo"), F.max("q").alias("hi")).first()
    # empty clean input: lo/hi are NULL, but `base` is then empty too, so
    # every downstream frame is empty whatever the literals hold
    lo, hi = int(b["lo"] or 0), int(b["hi"] or 0)
    width = (hi - lo) // n_bins + 1
    binned = base.select(
        "scope",
        F.expr(f"(q - {lo}) div {width}").alias("bin"),
    )
    per_type = binned.groupBy("scope", "bin").agg(F.count("*").alias("c"))
    sel = _histq_quantile_select(per_type, pcts)
    out = sel.select(
        "scope",
        "n",
        *[
            F.expr(f"{lo} + b{p} * {width}")
            .cast("bigint")
            .alias(f"q{p}_edge")
            for p in pcts
        ],
    )
    return out


def _histq_quantile_select(counters: DataFrame, pcts: tuple[int, ...]) -> DataFrame:
    """The histogram sketch's load-bearing quantile rule, factored once
    for both consumers (batch histogram_quantile_report, streaming-serving
    histq_quantiles_from_counters): sum-merge the '__all__' scope from the
    per-scope counters, cumulative-sum per scope in bin order, then select
    per percentile the SMALLEST bin whose cumulative count reaches
    ceil(p*n/100) — compared as 100*cum >= n*p in pure integers. Input
    (scope, bin, c) with unique (scope, bin) rows; output (scope, n,
    b{p}, ...) with bins still in sketch units (callers own the
    bin->edge projection because only they know whether lo/hi are
    in-query aggregates or pinned constants)."""
    from pyspark.sql import Window

    merged = (
        counters.groupBy("bin")
        .agg(F.sum("c").alias("c"))
        .select(F.lit("__all__").alias("scope"), "bin", "c")
    )
    allc = counters.select("scope", "bin", "c").unionByName(merged)
    w = (
        Window.partitionBy("scope")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = allc.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("scope"))
    )
    return cum.groupBy("scope", "n").agg(
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * p, F.col("bin"))
            ).alias(f"b{p}")
            for p in pcts
        ]
    )


def histq_bin_deltas(
    events: DataFrame, lo: int, hi: int, n_bins: int = HISTQ_BINS
) -> DataFrame:
    """The histogram sketch's MERGEABLE unit against PINNED global edges:
    (scope, bin) counts with the same integer binning as
    histogram_quantile_report, but lo/hi supplied as constants instead of
    computed in-query — the one-pass streaming form the report docstring
    promises (edges pinned from history, counters merge by addition).
    Values outside [lo, hi] clamp into the edge bins (a pinned-edge
    sketch can only report where mass FELL relative to its domain;
    re-pin and rebuild when the domain drifts — the same re-train
    discipline as the k-means centroids). Dirty values are dropped by
    :func:`_histq_clean` BEFORE the clamp — greatest/least skip NULLs,
    so an unfiltered null would silently land in the top bin while the
    batch report filters it out; sharing the report's exact filter
    keeps streaming-vs-batch parity on dirty inputs by construction."""
    lo, hi = int(lo), int(hi)
    width = (hi - lo) // n_bins + 1
    vd = F.col("value").cast("double")
    q = F.round(vd * F.lit(1000.0), 0).cast("bigint")
    clamped = F.greatest(F.lit(lo).cast("bigint"), F.least(F.lit(hi).cast("bigint"), q))
    base = events.where(_histq_clean(vd)).select(
        F.col("event_type").alias("scope"), clamped.alias("q")
    )
    return (
        base.select(
            "scope",
            F.expr(f"(q - {lo}) div {width}").alias("bin"),
        )
        .groupBy("scope", "bin")
        .agg(F.count("*").alias("c"))
    )


def histq_quantiles_from_counters(
    counters: DataFrame,
    lo: int,
    hi: int,
    n_bins: int = HISTQ_BINS,
    pcts: tuple[int, ...] = HISTQ_PCTS,
) -> DataFrame:
    """Quantile report from a MERGED (scope, bin, c) counter table — the
    serving tail of the streaming histogram sink: the same sum-merged
    '__all__' row, cumulative window and integer rank rule as
    histogram_quantile_report, applied to counters that arrived by
    addition instead of one batch pass. Output schema identical to the
    batch report, so streaming-vs-batch parity is a row comparison
    (the rank rule itself is the shared :func:`_histq_quantile_select`
    — one copy, no drift)."""
    lo, hi = int(lo), int(hi)
    width = (hi - lo) // n_bins + 1
    sel = _histq_quantile_select(counters, pcts)
    return sel.select(
        "scope",
        "n",
        *[
            (F.col(f"b{p}") * F.lit(width) + F.lit(lo))
            .cast("bigint")
            .alias(f"q{p}_edge")
            for p in pcts
        ],
    )
