"""Corpus sampling & selection operators (north-star training-data surface).

A pre-training data pipeline doesn't just filter and dedup — it *composes* a
corpus: per-source sampling rates (up/down-weighting), and a token budget
filled with the highest-quality documents first. These operators provide
both, deterministically:

- sampling decisions are HASH-based (keep iff h(doc) mod M < rate*M), not
  RNG-based, so the same document always gets the same verdict across runs,
  engines, and cluster sizes — the property that makes corpus builds
  reproducible and incremental (re-running over a grown corpus keeps all
  prior decisions). Spark's `df.sample`/`sampleBy` are seeded per-partition
  and change results under repartitioning; these don't.
- selection order is a total order (score desc, doc_id), so the packed
  corpus is unique and oracle-checkable.

No reference analog (the Flink app has no sampling surface); this extends
SURVEY.md §2's north-star block alongside dedup/similarity/text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flinkproject_spark import functions as K
from flinkproject_spark.operators.text import quality_score, tokens

SAMPLE_MOD = 1_000_000  # rate resolution: 1e-6


def _keep_hash(key_col: str, salt: str) -> F.Column:
    """Deterministic per-document draw in [0, SAMPLE_MOD): md5-based so the
    DuckDB oracle reproduces it bit-identically (K.duck_hash64 twin)."""
    return K.hash64(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))) % SAMPLE_MOD


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "corpus-v1",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: keep a document iff its
    hash draw falls under its stratum's rate (`sampleBy`'s contract, made
    reproducible).

    Scale shape: one narrow filter over the scan — no shuffle, no state;
    the rate map compiles into the predicate (broadcast-free). Pushdown:
    the stratum filter is a plain comparison chain, so Catalyst keeps the
    scan pruned to selected strata when rates are 0 elsewhere.
    """
    draw = _keep_hash(key_col, salt)
    rate = None
    for s, r in rates.items():
        cond = F.col(stratum_col) == s
        thresh = F.lit(int(r * SAMPLE_MOD))
        rate = F.when(cond, thresh) if rate is None else rate.when(cond, thresh)
    rate = rate.otherwise(F.lit(int(default_rate * SAMPLE_MOD))) if rate is not None \
        else F.lit(int(default_rate * SAMPLE_MOD))
    return documents.filter(draw < rate)


def token_budget_pack(documents: DataFrame, budget_tokens: int) -> DataFrame:
    """Greedy quality-first corpus packing: rank documents by quality score
    (desc, doc_id tiebreak), take the maximal prefix whose cumulative token
    count stays within `budget_tokens`.

    Quality = the text.quality_score composite (length + diversity);
    tokens = whitespace tokens.

    Scale note: the exact prefix-sum needs a GLOBAL order (single-reducer
    window) — fine up to ~10^8 docs of metadata (the window input is 3
    columns, not text).
    """
    return _pack_under_budget(
        _quality_scored(documents), "quality_score", budget_tokens
    ).select("doc_id", "lang", "source", "n_tokens", "quality_score", "cum_tokens")


def _pack_under_budget(
    scored: DataFrame, rank_col: str, budget_tokens: int
) -> DataFrame:
    """The budget pack token_budget_pack and corpus builds v2 and v5 end
    with: order by (`rank_col` desc, doc_id asc) and keep the prefix whose
    running `n_tokens` total (bigint `cum_tokens`) stays within
    `budget_tokens`."""
    w = Window.orderBy(F.desc(rank_col), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def _quality_scored(documents: DataFrame) -> DataFrame:
    """Per-doc (doc_id, lang, source, n_tokens, quality_score) projection
    every quality-ranked operator here and corpus build v2 read."""
    x = tokens("text")
    return documents.select(
        "doc_id",
        "lang",
        "source",
        F.size(x).cast("bigint").alias("n_tokens"),
        quality_score(x).alias("quality_score"),
    )


def corpus_quality_by_cluster(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Cross-modal corpus audit: join the text table to its embedding-space
    cluster (doc_id = vec_id) and roll up quality per cluster — the view
    that tells a pipeline which embedding domains carry low-quality text
    (prune the cluster, not individual docs).

    Join key is the shared id; at 100 TB both sides are bucketed on it so
    the join is co-located, and the per-cluster rollup is one partial-
    aggregating shuffle keyed by label.
    """
    q = _quality_scored(documents).select("doc_id", "n_tokens", "quality_score")
    j = q.join(
        embeddings.select(F.col("vec_id").alias("doc_id"),
                          F.col("label").cast("bigint").alias("label")),
        "doc_id",
    )
    agg = j.groupBy("label").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("quality_score").alias("qsum"),
    )
    return agg.select(
        "label",
        "n_docs",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.col("qsum") / F.col("n_docs").cast("double"), 6).alias("avg_quality"),
    )


def assign_split(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: the hash draw falls into
    cumulative weight intervals, so a document's split NEVER changes as
    the corpus grows or repartitions (the leakage-safety property: a val
    doc can never drift into train on a rebuild). Narrow projection, no
    shuffle."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    draw = _keep_hash(key_col, salt)
    expr, acc = None, 0.0
    items = list(weights.items())
    for name, wt in items[:-1]:
        acc += wt
        t = F.lit(int(acc * SAMPLE_MOD))
        expr = F.when(draw < t, name) if expr is None else expr.when(draw < t, name)
    last = items[-1][0]
    expr = expr.otherwise(last) if expr is not None else F.lit(last)
    return documents.withColumn("split", expr)


def weighted_sample(
    documents: DataFrame,
    k: int = 20,
    stratum_col: str = "source",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum — the
    Efraimidis–Spirakis A-ES scheme (IPL 2006): each item draws uniform u,
    gets priority u^(1/w), and the k highest priorities win; inclusion
    probability is proportional to weight, and the whole draw is one
    distributed top-k (the standard way to quality-weight a subsample
    without a sequential pass).

    Determinism: u comes from the md5 hash draw (same kernel as
    stratified_sample), so verdicts are reproducible across runs, engines,
    and repartitioning — and the DuckDB oracle replays them exactly. We
    rank by the priority's log, ln(u)/w (monotone in u^(1/w); w > 0),
    rounded to 6 dp. Ties at the 1e-6 resolution break by a SALTED HASH
    of doc_id (ADVICE r04 #4: a raw doc_id tiebreak hands every tie to
    the lower id — a systematic bias inside tie classes; the hash makes
    tie resolution unbiased while staying engine-reproducible), with
    doc_id as the final total-order guarantee under hash collision.

    Weight = the shared quality composite (_quality_scored), floored at
    0.01 so zero-quality docs keep a positive weight. Plan: narrow
    projection -> per-stratum window top-k. The window partitions by
    stratum; at 100 TB swap the exact window for a per-partition partial
    top-k + merge (the similarity._partial_topk pattern) — same output,
    bounded reducer.
    """
    scored = _quality_scored(documents)
    u = (_keep_hash("doc_id", salt) + 0.5) / F.lit(float(SAMPLE_MOD))
    w_col = F.greatest(F.col("quality_score"), F.lit(0.01))
    pri = F.round(F.log(u) / w_col, 6)
    tie = _keep_hash("doc_id", salt + "-tie")
    win = Window.partitionBy(stratum_col).orderBy(
        F.desc("priority"), F.asc(tie), F.asc("doc_id")
    )
    return (
        scored.withColumn("priority", pri)
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.round("quality_score", 6).alias("quality_score"),
            "priority",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def split_leakage(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Train/val/test leakage audit: content (by md5 of text) that appears
    in MORE than one split after :func:`assign_split`. Hash-based splitting
    keys on doc_id, so byte-identical duplicate documents can straddle the
    train/val boundary — exactly the leakage an eval-integrity audit must
    catch (and the reason dedup precedes splitting in the v2 pipeline; on a
    deduped corpus this returns zero rows, the checkable invariant).

    One groupBy(content hash) shuffle; output is one row per leaking
    content group with its doc count, split count, and the sorted splits
    it reaches. Scales as exact dedup does.
    """
    assigned = assign_split(documents, weights=weights, salt=salt)
    return (
        assigned.select(F.md5("text").alias("content_md5"), "doc_id", "split")
        .groupBy("content_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.size(F.collect_set("split")).cast("bigint").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_splits") > 1)
    )


def pack_sequences(
    documents: DataFrame, capacity_tokens: int = 512, n_buckets: int = 8
) -> DataFrame:
    """Distributed greedy sequence packing: assign each document to a
    fixed-capacity training bin. Documents are hash-scattered across
    `n_buckets` independent packing lanes; within a lane the running token
    total fills bins contiguously (a document lands in the bin where its
    first token falls, so bins can overflow by at most one document — the
    standard streaming-fill compromise that keeps packing embarrassingly
    parallel: no global sequential pass, one window per lane).

    bin_id is globally unique as bucket * 2^32 + local_bin. At 100 TB the
    lane count scales with the cluster; the per-lane window input is
    3 integer columns, never text.
    """
    d = _quality_scored(documents).select("doc_id", "lang", "source", "n_tokens")
    d = d.withColumn(
        "bucket",
        F.pmod(
            K.hash64(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
            F.lit(n_buckets),
        ).cast("bigint"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("cum", F.sum("n_tokens").over(w))
    local_bin = F.floor((F.col("cum") - F.col("n_tokens")) / capacity_tokens)
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "bucket",
        (F.col("bucket") * F.lit(2**32) + local_bin).cast("bigint").alias("bin_id"),
    )


def shuffled_order(
    documents: DataFrame, seed: str = "shuffle", shards: int = 64
) -> DataFrame:
    """Deterministic seeded corpus shuffle — the training-order permutation
    every pre-training run needs (sequential source order produces
    correlated batches; a seeded permutation is reproducible across runs,
    engines, and cluster sizes, unlike `df.orderBy(rand(seed))`, which is
    partitioning-dependent).

    Scale shape — NO global sort: a doc's shard is hash(seed:doc_id) mod
    `shards` (one hash partition shuffle), its position is a row_number
    window WITHIN the shard ordered by (hash, doc_id), and global_pos adds
    the total size of preceding shards — per-shard counts are `shards`
    rows of metadata whose running-sum window is trivially small, then
    broadcast-joined back. The global permutation is (shard asc, in-shard
    hash order): every shard is internally shuffled and shard files
    concatenate into the full epoch order, which is exactly how sharded
    training data is consumed. md5-based hash kernel -> the DuckDB oracle
    reproduces the permutation bit-identically.
    """
    keyed = documents.select(
        "doc_id",
        K.hash64(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))).alias("k"),
    ).withColumn("shard", F.pmod(F.col("k"), F.lit(shards)).cast("bigint"))
    # pos and counts both read `keyed` (one narrow metadata row per doc):
    # checkpoint lazily so the hash projection runs once, not per reference
    keyed = keyed.localCheckpoint(eager=False)
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(w).cast("bigint"))
    counts = keyed.groupBy("shard").agg(F.count("*").alias("c"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0)).cast("bigint")
    ).select("shard", "off")
    return pos.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "shard",
        "pos",
        (F.col("pos") + F.col("off")).alias("global_pos"),
    )


def curriculum_order(
    documents: DataFrame | None = None,
    bands: int = 4,
    seed: str = "curriculum",
    shards: int = 64,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Curriculum training order: easy-first phases by quality band, with a
    seeded deterministic shuffle INSIDE each phase (Bengio et al. 2009's
    curriculum schedule, made reproducible) — phase 1 = the top quality
    band, consumed first; within a phase, order is the hash permutation so
    batches stay decorrelated.

    Composition of two existing scale shapes, inheriting both proofs:
    band boundaries are ONE exact-percentile aggregate broadcast back
    (quality_decile_report's no-sort banding; approx_percentile at 100 TB),
    and in-phase positions are shuffled_order's shard trick — row_number
    windows partitioned by (phase, shard), never a global sort; the
    (phase, shard) count table (bands x shards rows of metadata) yields
    running-sum offsets that concatenate shards into phases and phases
    into the full epoch order.

    `scored` lets a pipeline hand in an already-scored frame (doc_id +
    quality_score + any extra columns, which carry through to the output)
    instead of re-deriving quality from text — the v3 corpus build's
    final stage reuses this exact machinery that way.
    """
    if scored is None:
        scored = _quality_scored(documents).select("doc_id", "quality_score")
    extra = [c for c in scored.columns if c not in ("doc_id", "quality_score")]
    qs = [i / bands for i in range(1, bands)]
    bounds = scored.agg(
        F.percentile("quality_score", F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    band = F.aggregate(
        "bs",
        F.lit(1),
        lambda acc, b: acc + F.when(F.col("quality_score") > b, 1).otherwise(0),
    )
    keyed = (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            *extra,
            "quality_score",
            (F.lit(bands + 1) - band).cast("bigint").alias("phase"),
        )
        .withColumn(
            "k",
            K.hash64(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))),
        )
        .withColumn("shard", F.pmod(F.col("k"), F.lit(shards)).cast("bigint"))
    )
    # pos and counts both read `keyed`, and `keyed` itself embeds the
    # percentile broadcast — checkpoint (lazy) so the banding subplan
    # materializes once instead of once per reference (4 corpus scans -> 1;
    # the v2 pipeline's measured stage-reuse fix)
    keyed = keyed.localCheckpoint(eager=False)
    w = Window.partitionBy("phase", "shard").orderBy("k", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(w).cast("bigint"))
    counts = keyed.groupBy("phase", "shard").agg(F.count("*").alias("c"))
    w_off = Window.orderBy("phase", "shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0)).cast("bigint")
    ).select("phase", "shard", "off")
    return pos.join(F.broadcast(offsets), ["phase", "shard"]).select(
        "doc_id",
        *extra,
        "phase",
        "shard",
        F.round("quality_score", 6).alias("quality_score"),
        (F.col("pos") + F.col("off")).alias("global_pos"),
    )


def domain_mix_sample(
    documents: DataFrame, targets: dict[str, float], salt: str = "mix-v1"
) -> DataFrame:
    """Resample sources to TARGET token shares — the corpus-mixing step
    that turns "we want 50% web, 30% code, 20% books" into per-source
    deterministic sampling rates. No upsampling: the achievable corpus is
    bounded by the scarcest source, budget B = min over targeted sources
    of (source_tokens / target_share); source s then keeps ~B*share_s
    tokens via the same hash-Bernoulli draw as stratified_sample (so
    decisions are reproducible and survive corpus growth). Sources
    without a target are dropped (rate 0).

    Scale shape: per-source token totals are |sources| rows (metadata);
    the derived rate table broadcast-joins back onto the scan and the
    keep decision is a narrow filter — one aggregate pass + one filter
    pass, no data-sized shuffle. All rate arithmetic is plain IEEE double
    with the same expression structure as the DuckDB oracle, so the kept
    set is bit-identical cross-engine.
    """
    spark = documents.sparkSession
    d = documents.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    tgt = spark.createDataFrame(
        [(s, float(r)) for s, r in sorted(targets.items())], "source string, share double"
    )
    per = (
        d.join(F.broadcast(tgt), "source")
        .groupBy("source", "share")
        .agg(F.sum("n_tokens").cast("double").alias("toks"))
    )
    budget = per.agg(F.min(F.col("toks") / F.col("share")).alias("budget"))
    rates = per.crossJoin(F.broadcast(budget)).select(
        "source",
        F.least(
            F.lit(1.0), (F.col("budget") * F.col("share")) / F.col("toks")
        ).alias("rate"),
    )
    draw = _keep_hash("doc_id", salt)
    return (
        d.join(F.broadcast(rates), "source")
        .filter(draw < F.floor(F.col("rate") * SAMPLE_MOD).cast("bigint"))
        .select("doc_id", "lang", "source", "n_tokens", F.round("rate", 6).alias("rate"))
    )
