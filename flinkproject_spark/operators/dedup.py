"""Deduplication operators (north-star surface): exact, MinHash+LSH,
SimHash, blocked n-gram Jaccard, and embedding-cosine near-dup.

Scale design (the whole point of these operators):

- **Exact** — one hash-groupBy shuffle; the canonical 100 TB first pass.
- **MinHash+LSH** — the classic shingle -> minhash signature -> band-bucket
  join pipeline: candidate generation never compares all O(n^2) pairs, only
  rows sharing a band bucket. Each stage is one shuffle with near-uniform
  keys (hash buckets), so it survives a 1000-executor scale-up.
- **SimHash** — 32-bit signatures, 4x8-bit band blocking (a pair within
  hamming distance 3 must agree on >= 1 band), then exact hamming check.
- **Blocked n-gram Jaccard** — brute-force verification *within* cheap
  blocking keys; the verifier for the LSH candidates and a standalone
  operator for small blocks.
- **Embedding near-dup** — cosine over `array<float>` within coarse cells.

Hashes use the cross-engine md5-based kernels (functions.hash64) so the
DuckDB oracle reproduces identical signatures; production would swap in
xxhash64 (same plan shape, ~5x cheaper) via the `hash_fn` parameter.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flinkproject_spark import functions as K
from flinkproject_spark.operators.text import tokens

HashFn = Callable[[Column], Column]


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group identical texts by md5, keep the lowest doc_id as canonical.

    Returns one row per distinct content: (keeper_id, dup_ct, content md5).
    At 100 TB this is the standard first dedup pass: one shuffle on a
    64-128 bit content hash, no text comparison needed.
    """
    return (
        documents.select(F.col("doc_id"), F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("dup_ct"))
    )


def _keepers(documents: DataFrame, key: Column | str) -> DataFrame:
    """Keeper dedup: one row per `key` value, the one with the lowest
    doc_id, every input column kept. A row_number window rather than
    exact_dedup + join-back: the same keeper set and the same single
    shuffle on the key, but no self-join — a join whose both sides derive
    from one input makes Catalyst execute that input's subplan once per
    side."""
    w = Window.partitionBy(key).orderBy("doc_id")
    return (
        documents.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _shingle_rows(
    documents: DataFrame, n: int = 3, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra, shingle) rows via posexplode + lead() windows.
    `extra` names per-document columns ridden through the explode so a
    blocked consumer doesn't need a corpus-scale metadata join afterwards
    (r11 — blocked_ngram_jaccard previously re-scanned documents and
    joined (lang, len_band) back onto the shingle rows on doc_id).

    Deliberately NOT the higher-order-function form
    (`transform(sequence(...), i -> concat_ws(x[i], ...))`): lambda
    functions run on Spark's interpreted expression path (no whole-stage
    codegen) and, post-CollapseProject, re-evaluate the tokenizing `split`
    per element access — measured ~17 s for a 260 k-shingle corpus where
    this window form takes ~1 s. posexplode/lead/concat_ws are all
    codegen'd, and the single doc_id window shuffle is reused by every
    downstream per-doc aggregation.
    """
    tok = documents.select(
        "doc_id", *extra, F.posexplode("x").alias("pos", "w0")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w0", k).over(w).alias(f"w{k}") for k in range(1, n)]
    grams = tok.select("doc_id", *extra, "w0", *leads).filter(
        F.col(f"w{n-1}").isNotNull()
    )
    return grams.select(
        "doc_id",
        *extra,
        F.concat_ws(" ", *[f"w{k}" for k in range(n)]).alias("sh"),
    )


def shingle_docs(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> distinct word n-gram shingle array."""
    return (
        _shingle_rows(documents, n)
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("sh")).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
    )


def _sig_aggs(num_hashes: int) -> list[Column]:
    """The `num_hashes` MinHash min-aggregates as SQL-text exprs: one
    F.expr py4j call per aggregate instead of ~8 Column constructions —
    at 128 hashes the Column form measured 2.2 s of pure driver
    plan-BUILD time per query (execution identical; the parsed
    expressions are the same)."""
    return [
        F.expr(f"min({K.minhash_member_sql('hb', i)}) AS h{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 16, n: int = 3, hash_fn: HashFn | None = None
) -> DataFrame:
    """Per-doc MinHash signature via a universal affine hash family:
    h_i = min over shingles of (a_i * base + b_i) mod P, base = md5-hash(shingle) mod P.

    ONE expensive hash per shingle (not per shingle*per member), then
    `num_hashes` integer affine transforms — the standard MinHash family.
    One explode + one groupBy (single shuffle); the mins are computed as
    parallel aggregates map-side before the shuffle.
    """
    hash_fn = hash_fn or K.hash64
    # No distinct/array round-trip: min over the shingle multiset equals min
    # over the set, so signatures consume the raw (doc_id, shingle) rows.
    # The groupBy reuses the doc_id window partitioning from _shingle_rows.
    rows = _shingle_rows(documents.withColumn("x", tokens("text")), n)
    based = rows.select(
        "doc_id", (hash_fn(F.col("sh")) % F.lit(K.MINHASH_P)).alias("hb")
    )
    return based.groupBy("doc_id").agg(*_sig_aggs(num_hashes))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures and emit distinct candidate pairs per shared bucket.

    Plan shape matters here: banding is ONE `explode` over an array of
    (band, bucket) structs — not a union of per-band projections — and pair
    generation is a grouped `collect_list` + within-bucket expansion — not a
    self-join. A union/self-join form re-evaluates the whole upstream
    signature pipeline (explode + md5 + groupBy) once per branch and per
    join side (~8x at 4 bands: Spark does not reuse common subplans across
    union/join branches); this form computes it exactly once and shuffles
    once, on the near-uniform (band, bucket) key. Bucket membership lists
    are bounded by bucket size (small by construction of the LSH family), so
    the per-group expansion stays near-linear at 100 TB.
    """
    # SQL-text struct per band (one py4j call each, not ~12 — see _sig_aggs)
    band_structs = []
    for b in range(bands):
        cols = ", ".join(
            f"cast(h{b * rows_per_band + r} as string)" for r in range(rows_per_band)
        )
        band_structs.append(
            F.expr(f"struct({b} AS band, md5(concat_ws(',', {cols})) AS bucket)")
        )
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingled: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair; keep >= threshold.

    Intersection/union via integer set sizes -> the only float op is one
    division, identical across engines.
    """
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_dedup(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    hash_fn: HashFn | None = None,
    reuse_shingles: bool = True,
) -> DataFrame:
    """Full pipeline: shingle -> minhash -> LSH candidates -> Jaccard verify.

    `hash_fn` threads through to the shingle hash: md5-based (default,
    oracle-reproducible) or xxhash64 (the production fast path — see
    xxhash64_mod).

    `reuse_shingles` (default on): materialize the per-doc shingle table
    once (lazy localCheckpoint) and derive the signature base, both verify
    sides, AND the Jaccard arithmetic from it — otherwise the
    tokenize+shingle subplan executes three times (signature branch + each
    join side of the verify; Spark does not reuse common subplans across
    branches). min over the DISTINCT shingle set equals min over the
    multiset, so signatures are bit-identical either way (the DuckDB
    oracle already computes from the distinct list). At extreme scale
    where materializing O(corpus x shingles) arrays costs more than two
    recomputes, pass False to keep the pure-recompute plan.
    """
    hash_fn = hash_fn or K.hash64
    rows_per_band = num_hashes // bands
    shingled = shingle_docs(documents.withColumn("x", tokens("text")), n)
    if reuse_shingles:
        # persist(), not localCheckpoint: the cache manager substitutes the
        # cached fragment into EVERY branch at analysis time (lazy local
        # checkpoints also work but make late checkpoint-stage tasks report
        # to already-unregistered accumulators — ERROR log spam on repeated
        # runs). Re-persisting an identical plan is a no-op, so repeated
        # calls share one LRU-managed entry; no manual unpersist needed.
        shingled = shingled.persist()
    based = shingled.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", (hash_fn(F.col("sh")) % F.lit(K.MINHASH_P)).alias("hb"))
    sigs = based.groupBy("doc_id").agg(*_sig_aggs(num_hashes))
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    return jaccard_verify(cands, shingled, threshold)


# Published-practice LSH setting (e.g. Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better": ~128 permutations): 128
# hashes in 16 bands of 8 rows puts the S-curve midpoint at
# (1/16)^(1/8) ~= 0.707 with a much sharper transition than the 16/4
# demo tier — fewer false candidates below the threshold AND fewer
# missed pairs above it.
PRECISION_NUM_HASHES = 128
PRECISION_BANDS = 16
PRECISION_THRESHOLD = 0.7


def minhash_lsh_dedup_precision(
    documents: DataFrame, n: int = 3, hash_fn: HashFn | None = None
) -> DataFrame:
    """The production-precision MinHash tier: 128 hashes / 16 bands, tau=0.7.

    Same plan shape as the demo tier (single banding explode, grouped
    bucket expansion, one shuffle per stage) — only the constants change,
    so the 100 TB properties carry over. The wider signature costs 128
    integer affine transforms per shingle row, all map-side.
    """
    return minhash_lsh_dedup(
        documents,
        num_hashes=PRECISION_NUM_HASHES,
        bands=PRECISION_BANDS,
        n=n,
        threshold=PRECISION_THRESHOLD,
        hash_fn=hash_fn,
    )


def _stop_shingles(rows: DataFrame, max_df: int) -> DataFrame:
    """Distinct shingles whose document frequency exceeds `max_df` — the
    'stop shingles' a df-capped truth computation drops. Small by
    definition (high-df outliers), so callers broadcast it."""
    return (
        rows.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )


def _pairs_from_shingle_rows(
    rows: DataFrame,
    threshold: float,
    capped_sizes: bool = False,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Inverted-index pair generation from distinct (doc_id, sh[, n_sh])
    rows: postings carry (doc_id, n_sh) structs so the within-bucket
    expansion can apply the EXACT length filter min/max >= threshold
    (AllPairs/PPJoin-style size pruning: Jaccard <= min(|A|,|B|)/max(|A|,|B|))
    BEFORE the pair shuffle, and the set sizes ride the pair key — no
    post-hoc n_sh joins. One linear pipeline: postings groupBy(sh) ->
    explode^2 + prune -> pair groupBy -> Jaccard filter.

    `capped_sizes`: recompute n_sh from the (already df-filtered) rows via
    a window over the doc_id partitioning the upstream groupBy established
    (sort, no exchange) — Jaccard is then over the capped sets.

    `extra_keys`: additional posting-group columns (e.g. (lang, len_band)
    blocks) — docs only pair within the same key values, the blocked-
    dedup semantics; n_sh stays the doc's FULL distinct-shingle count.
    """
    if capped_sizes or "n_sh" not in rows.columns:
        w = Window.partitionBy("doc_id")
        rows = rows.withColumn("n_sh", F.count("*").over(w))
    postings = (
        rows.groupBy("sh", *extra_keys)
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ratio = F.least("a.n_sh", "b.n_sh").cast("double") / F.greatest(
        "a.n_sh", "b.n_sh"
    ).cast("double")
    expanded = (
        postings.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & (ratio >= F.lit(threshold)))
    )
    inter = expanded.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.n_sh").alias("n_b"),
    ).agg(F.count("*").alias("inter"))
    jac = F.col("inter").cast("double") / (
        (F.col("n_a") + F.col("n_b")).cast("double") - F.col("inter").cast("double")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def exact_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """EXACT ground-truth near-dup pairs: every pair with true shingle
    Jaccard >= threshold, with no LSH and no blocking approximation.

    Exact without O(n^2): for threshold > 0 a qualifying pair must share
    at least one shingle, so the unblocked inverted shingle index (posting
    list per shingle -> length-filtered pair expansion -> shared-shingle
    count) generates a superset of the truth and the Jaccard filter
    finishes the job. Set sizes travel inside the posting structs, so the
    exact size-ratio prune (J <= min/max) fires during expansion — before
    the pair shuffle — and no n_sh joins remain. This is
    `blocked_ngram_jaccard` minus the (lang, len_band) blocking — the
    calibration oracle for measuring LSH recall, not the at-scale dedup
    path.

    `max_df` (the scale valve): drop shingles appearing in more than
    `max_df` docs before pairing — posting-list pair expansion is
    quadratic in df, so one runaway stop-shingle otherwise dominates the
    whole job at big SFs. Capping changes semantics to 'Jaccard over
    non-stop shingles' (sizes recomputed over the capped sets, so the
    metric stays a true Jaccard); None (default) is the mathematically
    exact form used by the correctness certificates.
    """
    shingled = shingle_docs(documents.withColumn("x", tokens("text")), n)
    rows = shingled.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    if max_df is not None:
        # rows feeds the stop-list scan AND the anti-joined main branch:
        # persist so the tokenize+shingle subplan runs once, not per branch.
        # No manual unpersist: repeated calls build an IDENTICAL plan, so
        # the cache manager reuses ONE LRU-evictable entry rather than
        # accumulating copies (same contract as minhash_lsh_dedup's
        # persist, documented there).
        rows = rows.persist()
        stop = _stop_shingles(rows, max_df)
        rows = rows.drop("n_sh").join(F.broadcast(stop), "sh", "left_anti")
    return _pairs_from_shingle_rows(rows, threshold, capped_sizes=max_df is not None)


# Recommended df cap for the PR calibration report at sf1+: far above any
# df observed at test SFs (max df 25 at sf0.1 -> nothing dropped,
# oracle-identical) but a hard bound on the quadratic posting expansion
# where one runaway stop-shingle would otherwise dominate the whole job.
# NOT the function default (ADVICE r05 #3): library callers keep
# exact-truth semantics unless they opt in; the driver query passes it
# explicitly. BENCH_PR_SCALE.md measured the cap at 10x sf0.1: the
# disjoint corpus drops nothing, and it cuts the verbatim-clone corpus's
# posting expansion 2.7x.
PR_MAX_DF = 100


def minhash_precision_recall(
    documents: DataFrame,
    num_hashes: int = PRECISION_NUM_HASHES,
    bands: int = PRECISION_BANDS,
    n: int = 3,
    threshold: float = PRECISION_THRESHOLD,
    hash_fn: HashFn | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Measured candidate-generation quality of an LSH configuration
    against the exact ground truth (`exact_jaccard_pairs` machinery).

    Returns ONE row: (n_true, n_cand, n_hit, recall, precision,
    n_dropped_shingles) where recall = hit/true (fraction of real
    >=threshold pairs the bands surface) and precision = hit/cand
    (fraction of surfaced candidates that are real — the
    wasted-verification rate is 1 - precision). Post-verification output
    precision is always 1.0 by construction (jaccard_verify filters);
    these metrics price the candidate stage, which is what the bands/rows
    knobs trade off.

    `max_df` (default None = exact truth; pass `PR_MAX_DF` at scale)
    bounds the ground truth's posting-list expansion (quadratic
    in df) so the report itself runs at sf1+; `n_dropped_shingles` reports
    how many distinct shingles the cap removed (0 = truth is exactly the
    uncapped truth). Signatures are ALWAYS built from the full shingle
    sets — they are the system under test; the cap only bounds the truth
    side, and when it binds the truth becomes 'Jaccard over non-stop
    shingles' (documented, reported, never silent).

    Calibration utility: run it on a sample to pick (num_hashes, bands)
    for a corpus, the same role `recall_at_k` plays for the IVF tier.
    """
    hash_fn = hash_fn or K.hash64
    # one materialized shingle-ROW table feeds ground truth AND signatures
    # (otherwise the tokenize+shingle subplan executes once per branch).
    # Persisting the exploded rows rather than the array-form table saves
    # each branch a cached-array deserialize + re-explode.
    rows = (
        shingle_docs(documents.withColumn("x", tokens("text")), n)
        .select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
        .persist()
    )
    if max_df is not None:
        # stop feeds the anti-join AND the dropped-count aggregate: persist
        # the (tiny) stop list so the df groupBy runs once, not per branch
        stop = _stop_shingles(rows, max_df).persist()
        truth_rows = rows.drop("n_sh").join(F.broadcast(stop), "sh", "left_anti")
        n_dropped = stop.agg(F.count("*").cast("bigint").alias("n_dropped_shingles"))
    else:
        truth_rows = rows
        n_dropped = documents.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("n_dropped_shingles")
        )
    truth = _pairs_from_shingle_rows(
        truth_rows, threshold, capped_sizes=max_df is not None
    ).select("doc_a", "doc_b")
    based = rows.select(
        "doc_id", (hash_fn(F.col("sh")) % F.lit(K.MINHASH_P)).alias("hb")
    )
    sigs = based.groupBy("doc_id").agg(*_sig_aggs(num_hashes))
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    # Pair overlap as union + one pair-keyed aggregate (r12): both sides
    # are distinct-by-construction (truth is a pair groupBy, candidates
    # end in .distinct()), so max-flags per pair reproduce the old
    # full_outer join exactly — minus its two sort legs and one exchange
    # (SortMergeJoin FullOuter sorted BOTH pair tables just to line up
    # rows a hash aggregate groups anyway; guide §2.4).
    t = truth.select(
        "doc_a", "doc_b", F.lit(1).alias("is_true"), F.lit(0).alias("is_cand")
    )
    c = cands.select(
        "doc_a", "doc_b", F.lit(0).alias("is_true"), F.lit(1).alias("is_cand")
    )
    per_pair = t.unionByName(c).groupBy("doc_a", "doc_b").agg(
        F.max("is_true").alias("is_true"), F.max("is_cand").alias("is_cand")
    )
    report = per_pair.agg(
        F.sum("is_true").cast("bigint").alias("n_true"),
        F.sum("is_cand").cast("bigint").alias("n_cand"),
        F.sum(
            F.when((F.col("is_true") == 1) & (F.col("is_cand") == 1), 1)
        ).cast("bigint").alias("n_hit"),
    ).select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
        F.round(F.col("n_hit") / F.col("n_cand"), 6).alias("precision"),
    )
    # single-row x single-row: a broadcast nested loop of two scalars
    return report.crossJoin(F.broadcast(n_dropped))


def xxhash64_mod(col: Column) -> Column:
    """The production-tier shingle hash: one JVM xxhash64 (no md5 string
    round-trip), reduced into the MinHash field. NOT cross-engine
    reproducible — pair with rows-only verification."""
    return F.pmod(F.xxhash64(col), F.lit(K.MINHASH_P))


def minhash_xx_certificate(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-engine CERTIFICATE for the xxhash64 MinHash fast path: the
    signatures themselves are engine-specific (no DuckDB xxhash64), but
    three derived invariants are fully deterministic, so an oracle CAN
    hash-match them:

    - `n_true` — |{pairs with exact shingle Jaccard >= threshold}|,
      computed via the inverted-index truth path (`exact_jaccard_pairs`,
      uncapped) — a real number the oracle recomputes independently;
    - `sound` — every pair the xx pipeline emits is in that truth set
      (anti-join empty). Soundness is checked against the INDEPENDENT
      inverted-index Jaccard, not the pipeline's own array-intersect
      arithmetic, so a mis-wired bucket join / shingle table would flip
      it to false;
    - `exact_dup_recall_ok` — every pair with IDENTICAL shingle sets
      (grouped by md5 of the sorted distinct-shingle array — exact set
      equality, deliberately NOT the 6dp-rounded jaccard == 1.0, which a
      0.9999995-similar-but-unequal pair could satisfy without the
      guarantee applying) is emitted. Guaranteed for ANY hash family:
      identical shingle sets produce identical MinHash signatures, hence
      identical band buckets, hence guaranteed candidacy — the one recall
      statement LSH makes deterministically.

    The full production pipeline (shingle -> xxhash64 minhash -> banded
    LSH -> Jaccard verify) executes inside this query, so its BENCH row
    keeps pricing the fast path while the CORRECTNESS row goes green on
    the certificate. Reference analog: the md5-oracle twin
    `minhash_lsh_dedup` covers pair-level semantics; this covers the
    engine-specific hash tier.

    Scale posture (ADVICE r05 #5, knob added per ADVICE r07): with the
    default `max_df=None` the truth side is fully exact — the form the
    sf0.01 oracle pins — but its posting-list pair expansion is
    quadratic in stop-shingle df, a test-SF-only cost. `max_df=k` is
    the sf1+ valve: `n_true` switches to the CAPPED truth
    (exact_jaccard_pairs(max_df=k), 'Jaccard over non-stop shingles' —
    the same honest-by-construction semantics minhash_precision_recall
    reports), while `sound` switches to an INDEPENDENT per-emitted-pair
    exact UNCAPPED Jaccard — only the |emitted| pairs are verified
    (work linear in emitted pairs x doc shingles, never the posting
    quadratic), so soundness keeps its uncapped meaning and can never
    be falsified by the cap. The check stays independent of the
    pipeline's own array_intersect arithmetic (shingle-row join +
    count, a different code path). The `persist()`s feed multiple
    branches of the ONE returned plan and are reclaimed with the
    session (each driver/bench invocation is its own session); a
    long-lived caller embedding this in a larger job should unpersist
    after materializing.
    """
    emitted = minhash_lsh_dedup(
        documents, num_hashes, bands, n, threshold, hash_fn=xxhash64_mod
    ).select("doc_a", "doc_b").persist()  # feeds soundness + recall branches
    if max_df is None:
        truth = exact_jaccard_pairs(documents, n, threshold).persist()  # 2 uses
        n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
        sound = (
            emitted.join(
                truth.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
            ).agg((F.count("*") == 0).alias("sound"))
        )
    else:
        capped = exact_jaccard_pairs(documents, n, threshold, max_df=max_df)
        n_true = capped.agg(F.count("*").cast("bigint").alias("n_true"))
        # per-emitted-pair exact UNCAPPED Jaccard: shingle rows joined to
        # the pair list from each side, shared-shingle count per pair
        sh = (
            shingle_docs(documents.withColumn("x", tokens("text")), n)
            .select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
        )
        a_side = emitted.join(
            sh.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "sh"
            ),
            "doc_a",
        )
        inter = a_side.join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "sh"
            ),
            ["doc_b", "sh"],
        )
        per_pair = inter.groupBy("doc_a", "doc_b", "na", "nb").agg(
            F.count("*").alias("i")
        )
        jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        verdicts = emitted.join(
            per_pair.select("doc_a", "doc_b", jac.alias("jac")),
            ["doc_a", "doc_b"],
            "left",
        )
        sound = verdicts.agg(
            (
                F.count(
                    F.when(
                        F.col("jac").isNull() | (F.col("jac") < threshold), 1
                    )
                )
                == 0
            ).alias("sound")
        )
    # exact shingle-SET-equality clone pairs: group docs by a hash of the
    # sorted distinct-shingle array (rounding-free, unlike jaccard == 1.0).
    # Each shingle is md5'd FIRST — fixed-width elements make the joined
    # string injective for the set (a raw-text join is separator-injectable:
    # tokens() only splits on whitespace, so documents may contain any
    # separator byte). The shingle_docs subplan here is plan-identical to
    # the one minhash_lsh_dedup persists above, so analysis-time cache
    # substitution makes this a cache read, not a third corpus scan.
    ssig = (
        shingle_docs(documents.withColumn("x", tokens("text")), n)
        .select("doc_id", F.explode("shingles").alias("sh"))
        .select("doc_id", F.md5("sh").alias("hs"))
        .groupBy("doc_id")
        .agg(F.md5(F.concat_ws(",", F.array_sort(F.collect_list("hs")))).alias("ssig"))
    )
    clones = (
        ssig.groupBy("ssig")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    recall_ok = (
        clones.join(emitted, ["doc_a", "doc_b"], "left_anti")
        .agg((F.count("*") == 0).alias("exact_dup_recall_ok"))
    )
    # three single-row aggregates -> broadcast nested loops of scalars
    return n_true.crossJoin(F.broadcast(sound)).crossJoin(F.broadcast(recall_ok))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(documents: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash over tokens: bit b of the signature is set when the
    sum over tokens of (+1 if token-hash bit b set else -1) is positive."""
    # repartition before the per-token hash for the same reason as
    # minhash_signatures (parallelize + shuffle-free groupBy)
    toks = documents.repartition(F.col("doc_id")).select(
        "doc_id", F.explode(tokens("text")).alias("t")
    )
    hashed = toks.select("doc_id", K.hash32(F.col("t")).alias("h"))
    # bit b is set when set-count > half the tokens: sum the raw bit (branch-
    # free arithmetic, not a CASE over +-1 — same sign test since
    # sum(+-1) > 0  <=>  2*sum(bit) > n) in 32 parallel integer aggregates.
    # SQL-text exprs for the wide column lists (one py4j call per bit — see
    # _sig_aggs for the measured driver-side plan-build cost of the
    # Column-API form).
    bit_aggs = [
        F.expr(f"sum(shiftright(h, {b}) & 1) AS b{b}") for b in range(bits)
    ]
    summed = hashed.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_aggs)
    sig_sql = " + ".join(
        f"(CASE WHEN b{b} * 2 > n THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return summed.select("doc_id", F.expr(f"({sig_sql}) AS simhash"))


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4x8-bit bands (pigeonhole: any
    pair with hamming <= 3 over 32 bits shares at least one exact band),
    then exact hamming check with bit_count(xor)."""
    sigs = simhash_signatures(documents)
    # same single-pass band-explode + bucket-expansion shape as
    # lsh_candidate_pairs (avoids re-evaluating the 32-bit-agg pipeline per
    # union branch / join side)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 8).bitwiseAND(F.lit(255)).alias("bucket"),
        )
        for b in range(4)
    ]
    banded = sigs.select(
        F.struct("doc_id", "simhash").alias("ds"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("ds", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("ds").alias("members"))
        .filter(F.size("members") > 1)
    )
    pairs = (
        buckets.select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# blocked n-gram Jaccard (brute force within blocks)
# ---------------------------------------------------------------------------
def blocked_ngram_jaccard(
    documents: DataFrame, n: int = 3, threshold: float = 0.4, block_chars: int = 128
) -> DataFrame:
    """All-pairs n-gram Jaccard within (lang, length-band) blocks.

    Blocking bounds the quadratic term: near-dups rarely cross language or
    large length differences. Standalone verifier-style dedup for corpora
    where LSH recall tuning isn't warranted.
    """
    # Inverted-index intersection: group distinct (doc, shingle) rows by the
    # shingle itself (within blocks) into posting lists, expand each list's
    # pairs, and count shared shingles per pair — only pairs that actually
    # share a shingle materialize. With threshold > 0 a zero-intersection
    # pair can never pass, so the output is identical to all-pairs and the
    # work is proportional to real overlap — the property that keeps this
    # near-linear at 100 TB. Two earlier forms, both measured slower on a
    # 5k-doc corpus: all-pairs-in-block array_intersect (741k pairs / 11 s
    # vs 75 output rows) and a sort-merge SELF-JOIN on the shingle column
    # (~5.6 s: evaluates the tokenize+shingle pipeline once per join side
    # and sorts both) — this grouped posting-list expansion (the
    # lsh_candidate_pairs shape) runs ~2x faster: one evaluation, one
    # shuffle on the near-uniform shingle key, no sort. Posting-list length
    # is bounded by block size; at open-domain 100 TB add the standard
    # stop-shingle cap (drop lists over ~1k docs) as a recall-neutral valve.
    # block keys ride the shingle explode (extra=) instead of a second
    # documents scan + corpus-scale metadata join on doc_id; the distinct
    # covers (doc_id, lang, len_band, sh) — identical cardinality since
    # the block keys are functions of doc_id (r11 optimization)
    rows = _shingle_rows(
        documents.withColumn("x", tokens("text")).withColumn(
            "len_band", F.floor(F.col("n_chars") / block_chars)
        ),
        n,
        extra=("lang", "len_band"),
    ).distinct()
    # shared machinery with exact_jaccard_pairs (r05): struct postings
    # carry the set sizes, the exact size-ratio prune fires pre-shuffle,
    # and the n_sh joins disappear — blocks ride along as posting keys
    return _pairs_from_shingle_rows(
        rows, threshold, extra_keys=("lang", "len_band")
    )


def containment_pairs(
    documents: DataFrame, n: int = 3, min_containment: float = 0.9
) -> DataFrame:
    """Near-CONTAINMENT pairs: (doc_a, doc_b) where containment(a in b) =
    |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold — the
    asymmetric relation Jaccard systematically misses (a paragraph quoted
    inside a 100x-longer doc has Jaccard ~0.01 but containment ~1.0).
    Standard curation pass for quote-expansion / snippet-farm content.

    Same near-linear plan shape as `exact_jaccard_pairs`: unblocked
    inverted shingle index -> posting-list pair expansion -> per-pair
    shared-shingle count, then the asymmetric ratio on BOTH orientations
    of each pair (a-in-b and b-in-a are different facts). min_containment
    > 0 guarantees a qualifying pair shares >= 1 shingle, so the index
    generates a superset of the truth — exact, no LSH approximation. At
    open-domain 100 TB add the stop-shingle posting-list cap.

    Returns (doc_small, doc_big, containment) rows: doc_small's shingles
    are >= min_containment covered by doc_big's.
    """
    # struct postings carry (doc_id, n_sh), so set sizes ride the pair key
    # and no n_sh joins (or their checkpoint scaffolding) remain — one
    # LINEAR pipeline like exact_jaccard_pairs. No size-ratio prune here:
    # containment has no size bound (the small side can always reach 1.0).
    shingled = shingle_docs(documents.withColumn("x", tokens("text")), n)
    rows = shingled.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    postings = (
        rows.groupBy("sh")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    both = (
        postings.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    # both orientations in ONE pass (explode of two structs), not a union
    # of two projections — Spark re-executes the upstream per union branch
    return (
        both.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_small"),
                        F.col("doc_b").alias("doc_big"),
                        (F.col("inter").cast("double") / F.col("n_a").cast("double")).alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_small"),
                        F.col("doc_a").alias("doc_big"),
                        (F.col("inter").cast("double") / F.col("n_b").cast("double")).alias("containment"),
                    ),
                )
            ).alias("o")
        )
        .select("o.*")
        .filter(F.col("containment") >= min_containment)
        .select(
            "doc_small", "doc_big", F.round("containment", 6).alias("containment")
        )
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's distinct shingles
    whose corpus-wide first occurrence (minimum doc_id) is this doc — the
    diversity/boilerplate metric curation pipelines rank by (a doc whose
    shingles all debuted elsewhere is template/quote material even when no
    single pair-level near-dup fires).

    Two shuffles, both on near-uniform keys: groupBy(shingle) finds each
    shingle's first owner, groupBy(doc_id) aggregates the novelty ratio —
    no joins against the corpus, no pair expansion, so it scales like the
    exact-dedup pass rather than like LSH. Docs shorter than n tokens have
    no shingles and are absent from the output (same contract as the
    shingle-based dedup tiers).

    Returns (doc_id, n_shingles, n_novel, novelty_pct) with the ratio
    rounded to 6 decimals for cross-engine hashing.
    """
    rows = _shingle_rows(documents.withColumn("x", tokens("text")), n).distinct()
    # first-owner via a WINDOW min over the shingle partition — same single
    # shuffle as a groupBy(sh), but no join of `rows` against an aggregate
    # of itself (which would re-execute the tokenize+shingle subplan once
    # per join side — the measured trap documented on lsh_candidate_pairs)
    w = Window.partitionBy("sh")
    marked = rows.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("novel"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("novel").cast("bigint").alias("n_novel"),
        F.round(
            F.sum("novel").cast("double") / F.count("*").cast("double"), 6
        ).alias("novelty_pct"),
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def _oversized_cell_splits(
    emb: DataFrame, max_cell_rows: int
) -> list[tuple[int, int]]:
    """ONE per-label aggregation deciding both whether the cell-cap
    refinement has any work to do and, when it does, each oversized
    cell's split width: returns (label, _xb = ceil(log2(count/cap)))
    rows for cells OVER the cap only (empty list = cap doesn't bind and
    the caller takes the plain-grouping fast path — provably identical
    output, zero pre-pass cost at test SFs). Driver-side collect bounded
    by the coarse quantizer's cell count (SemDeDup-paper scale: ~50k
    clusters — kilobytes). Replaces the r08 first cut that ran the same
    aggregation twice (once for the fast-path check, once for the split
    widths — review finding)."""
    import math as _math

    rows = (
        emb.groupBy("label")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_cell_rows)
        .collect()
    )
    return [
        (int(r["label"]), int(_math.ceil(_math.log2(r["_n"] / float(max_cell_rows)))))
        for r in rows
    ]


def _refine_oversized_cells(
    emb: DataFrame, splits: list[tuple[int, int]]
) -> DataFrame:
    """Cell-size-cap pre-pass shared by the per-cell matmul operators
    (:func:`embedding_near_dups`, :func:`semdedup`): add a `_sub` column
    splitting the cells listed in `splits` (from
    :func:`_oversized_cell_splits`) into 2^_xb subcells keyed by the TOP
    bits of a 20-bit single-band SRP signature (:func:`srp_signatures` —
    the same deterministic integer machinery as the LSH tier,
    reproducible cross-engine). Group by (label, _sub) instead of label
    and per-cell O(m^2) work returns to O(n * max_cell_rows) with
    parallelism at the refined cell count. Cells not listed get _sub = 0
    (left join + coalesce), so with an empty/never-binding split list
    the grouping is equivalent to plain `label` and output is IDENTICAL
    (pinned by test)."""
    SUB_BITS = 20  # signature width; top ceil(log2(count/cap)) bits used
    spark = emb.sparkSession
    splits_df = spark.createDataFrame(splits, "label bigint, _xb int")
    sig = srp_signatures(emb, bits=SUB_BITS, bands=1).select(
        "vec_id", F.col("bucket").alias("_sig")
    )
    return (
        emb.join(F.broadcast(splits_df), "label", "left")
        .withColumn("_xb", F.coalesce(F.col("_xb"), F.lit(0)))
        .join(sig, "vec_id")
        # top _xb bits of the signature; exact in doubles (values < 2^20)
        .withColumn(
            "_sub",
            F.floor(F.col("_sig") / F.pow(F.lit(2.0), F.lit(SUB_BITS) - F.col("_xb"))),
        )
    )


def embedding_near_dups(
    embeddings: DataFrame, threshold: float = 0.35, max_cell_rows: int | None = None
) -> DataFrame:
    """Near-duplicate vectors: cosine >= threshold within coarse cells.

    The `label` column is the precomputed coarse-quantizer cell (IVF-style);
    pairs only form within a cell, keeping the work near-linear.

    Execution: `groupBy(label).applyInPandas` — each cell's vectors arrive
    as one Arrow batch and all pairwise cosines are ONE numpy matmul
    (X_n @ X_n.T), upper triangle filtered by threshold. The relational
    alternative (self-join + per-pair `aggregate`-lambda dot product) scores
    pairs one at a time on the interpreted expression path — measured ~4x
    slower at 5k vectors. Cell population bounds the O(m^2) term and the
    matmul memory; at 100 TB the quantizer's cell-size cap is the knob —
    and `max_cell_rows` is that knob as code (see
    :func:`_refine_oversized_cells`; BENCH_SF10.md measures the fixed
    10-cell testdata quantizer going quadratic without it). Pairs across
    subcell boundaries are not emitted — the documented
    approximation-granularity trade of a finer quantizer, identical
    output when the cap doesn't bind.
    Rounding to 6 decimals keeps results bit-identical to the DuckDB oracle.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                 "vec_b": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = np.round(Xn @ Xn.T, 6)
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = S[ai, bi] >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ai[keep]],
                "vec_b": ids[bi[keep]],
                "cosine": S[ai[keep], bi[keep]],
            }
        )

    emb = embeddings.select("vec_id", "label", "embedding")
    pair_schema = "vec_a bigint, vec_b bigint, cosine double"
    splits = (
        _oversized_cell_splits(emb, max_cell_rows)
        if max_cell_rows is not None
        else []
    )
    if splits:
        return (
            _refine_oversized_cells(emb, splits)
            .groupBy("label", "_sub")
            .applyInPandas(cell_pairs, pair_schema)
        )
    return emb.groupBy("label").applyInPandas(cell_pairs, pair_schema)


SRP_SCALE = 1000  # embedding quantization: round(v*1000) -> int64
SRP_MOD = 2001  # projection entries in [-1000, 1000]


def srp_recommended_banding(
    n_vectors: int, bands: int = 8, pairs_per_vector_budget: float = 1.0
) -> tuple[int, int]:
    """The b ~= log2(n) banding rule as code: (bits, bands) for
    :func:`srp_lsh_near_dups` at a given corpus size.

    A band of b bits has 2^b buckets, so SPURIOUS candidates (unrelated
    vectors colliding by chance) number ~ C(n,2) * bands / 2^b. The
    operator's documented sizing is b = ceil(log2(n / budget)), which
    bounds spurious candidates at (bands/2) * budget * n — i.e. the
    budget is per-band, a few chance pairs per vector total.
    BENCH_SF10.md measured the rule end-to-end: the sf1-tuned 96/8
    (b=12) setting runs 167 s at n=500k (exponent 2.0 — saturated)
    while this function's answer for that n, (152, 8) (b=19), runs 8 s
    (exponent 0.84, linearity restored).

    `bands` trades recall for work: per-band TRUE-pair collision
    probability is (1 - theta/pi)^b, so wider bands (larger b) need MORE
    bands to keep recall — re-tune upward for tight thresholds. The
    returned bits = bands * b keeps every band equally wide (the layout
    :func:`srp_signatures` requires).

    Static driver queries can't use this (their DuckDB oracles regenerate
    a fixed parameterization); it exists for library callers pointing the
    operator at a NEW corpus, where the right banding is a function of n,
    not a constant.
    """
    if n_vectors < 2:
        return (bands, bands)  # 1-bit bands; nothing can saturate
    b = max(1, math.ceil(math.log2(n_vectors / pairs_per_vector_budget)))
    return (bands * b, bands)


def _srp_projection(dim: int, bits: int):
    """Deterministic signed-random-projection matrix: entry (d, b) =
    hash64('srp:d:b') % 2001 - 1000 — the same md5-derived constant the
    DuckDB oracle regenerates in SQL, so signatures match bit-for-bit.
    Integer-valued so the quantized dot product is EXACT integer math
    (no float summation-order divergence between numpy and SQL)."""
    import hashlib

    import numpy as np

    P = np.empty((dim, bits), dtype=np.int64)
    for d in range(dim):
        for b in range(bits):
            h = int(hashlib.md5(f"srp:{d}:{b}".encode()).hexdigest()[:15], 16)
            P[d, b] = h % SRP_MOD - 1000
    return P


def srp_signatures(embeddings: DataFrame, bits: int = 16, bands: int = 4) -> DataFrame:
    """SRP-LSH signatures for cosine similarity (Charikar 2002): bit b is
    the sign of the vector's dot product with pseudo-random hyperplane b,
    banded SimHash-style into `bands` buckets of bits//bands bits.

    Exactness contract: embeddings are quantized to int64 (round(v*1000),
    half-away-from-zero to match SQL round()) and the projection is
    integer-valued, so X @ P is exact integer arithmetic — bit-identical
    across numpy, any executor count, and the DuckDB oracle.

    Plan: one mapInPandas over (vec_id, embedding) — per Arrow batch the
    whole signature block is a single int64 matmul; output is the long
    (vec_id, band, bucket) form that feeds the same grouped bucket
    expansion as the MinHash tier. No shuffle here at all.
    """
    import numpy as np
    import pandas as pd

    width = bits // bands

    def run(batches):
        P = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Y = X * SRP_SCALE
            Q = (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int64)
            if P is None or P.shape[0] != Q.shape[1]:
                P = _srp_projection(Q.shape[1], bits)
            S = (Q @ P) >= 0
            ids = np.repeat(pdf["vec_id"].to_numpy(), bands)
            bnd = np.tile(np.arange(bands, dtype=np.int64), len(pdf))
            weights = 1 << np.arange(width, dtype=np.int64)
            # bucket of band b = its bit block read as an integer
            bucks = np.einsum(
                "nbw,w->nb", S.reshape(len(pdf), bands, width), weights
            ).reshape(-1)
            yield pd.DataFrame({"vec_id": ids, "band": bnd, "bucket": bucks})

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, "vec_id bigint, band bigint, bucket bigint"
    )


def srp_lsh_near_dups(
    embeddings: DataFrame,
    bits: int | None = 16,
    bands: int = 4,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding near-dup via SRP-LSH: candidates share a signature band
    bucket (two vectors within angle θ agree on a random hyperplane side
    with probability 1 - θ/π, so near-dups collide in ≥1 of the 4-bit
    bands with high probability), then exact cosine verification keeps
    pairs >= threshold.

    This is the UNQUANTIZED-cell-free alternative to
    :func:`embedding_near_dups`: no coarse quantizer/label column needed —
    the hash family itself does the blocking, the standard trick when no
    IVF cells exist yet (e.g. first pass over a new corpus). Same grouped
    bucket expansion as the MinHash tier — one shuffle on the near-uniform
    (band, bucket) key, never an all-pairs join.

    SCALE THE BAND WIDTH WITH THE CORPUS (BENCH_SF1.md finding): a band of
    b bits has only 2^b buckets, so spurious candidates grow as
    ``C(n,2) * bands / 2^b`` — quadratic once n >> bands * 2^b. The
    16/4 default (b=4) is the test-SF calibration the DuckDB oracle
    regenerates; at 20k vectors it measured 78 s (207k verified pairs)
    while bits=96, bands=8 (b=12) measured 2.2 s. Choose
    b ≈ log2(n / pairs-per-vector-budget) — as code:
    :func:`srp_recommended_banding` — then re-tune `bands` upward
    for recall (per-band collision for true pairs is (1 - θ/π)^b, so
    wider bands need more of them — the standard LSH trade). Separately:
    a LOW cosine threshold can make the TRUE pair set itself quadratic
    (emitting it is then the lower bound, no parameterization avoids it);
    for corpus-scale near-dup work prefer the IVF-cell path
    (:func:`embedding_near_dups` / :func:`semdedup`), which bounds work
    by cell population instead.

    ADAPTIVE MODE (``bits=None``): the banding is computed from the
    corpus itself — one driver-side ``count()`` feeds
    :func:`srp_recommended_banding`, so the band width grows with the
    corpus (b = ceil(log2 n)) and the spurious-candidate term stays
    O(n) at every scale WITHOUT the caller re-tuning anything. This is
    the scale-safe production form (VERDICT r07: the fixed 16/4
    calibration measured exponent 1.83 at sf1 while the rule-derived
    banding stays linear through sf10). The count is a cheap
    metadata-backed scan (parquet row-group counts), and because the
    same formula is pure SQL (ceil(log2(count(*)))), the DuckDB oracle
    regenerates the SAME banding from the same corpus — the adaptive
    form is oracle-verified end-to-end, not just measured.
    """
    import numpy as np
    import pandas as pd

    if bits is None:
        n = embeddings.count()
        bits, bands = srp_recommended_banding(n, bands=bands)

    sig = srp_signatures(embeddings, bits, bands)
    buckets = (
        sig.groupBy("band", "bucket")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = (
        buckets.select(F.explode("ids").alias("vec_a"), "ids")
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    joined = cand.join(ea, "vec_a").join(eb, "vec_b")

    def cos(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
            c = np.round(
                (A * B).sum(1) / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)),
                6,
            )
            yield pd.DataFrame(
                {"vec_a": pdf["vec_a"], "vec_b": pdf["vec_b"], "cosine": c}
            )

    out = joined.mapInPandas(cos, "vec_a bigint, vec_b bigint, cosine double")
    return out.filter(F.col("cosine") >= threshold)


def semdedup(
    embeddings: DataFrame, threshold: float = 0.35, max_cell_rows: int | None = None
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup inside
    coarse k-means cells. Within each cell, vectors whose pairwise cosine
    >= threshold form near-dup groups; the paper KEEPS the member with the
    LOWEST cosine to the cell centroid (retain the hardest/most diverse
    example, drop the redundant center-mass ones).

    Deterministic form of the paper's per-cluster greedy scan: a vector is
    dropped iff SOME near-dup neighbor dominates it — neighbor has lower
    centroid-cosine, ties broken by lower vec_id. On a transitive near-dup
    relation this keeps exactly the per-group minimum (the greedy
    survivor); on non-transitive chains it is the pairwise-dominance
    relaxation, still deterministic and oracle-checkable in ANSI SQL.

    FUSED single-pass execution: everything the verdict needs — the cell
    centroid (= mean of the cell's own vectors, exactly what
    label_centroids computes per label), each member's centroid cosine, the
    pairwise cosine matrix, and the dominance test — is a function of ONE
    cell's vectors, so it all happens inside one
    `groupBy(label).applyInPandas` Arrow batch as numpy matmuls. ONE scan,
    ONE shuffle, one Python stage. (The first cut composed
    label_centroids + embedding_near_dups + three relational joins; each
    DataFrame reference re-executed its subplan — 16 scans / 30 exchanges
    for the same answer. Composability lost, 100 TB sanity won.) Cell
    population bounds the O(m^2) matrices — the coarse quantizer's
    cell-size cap is the knob, same as the matmul near-dup tier. Rounding
    to 6 decimals keeps both cosines bit-identical to the DuckDB oracle.

    `max_cell_rows` IS that knob, in code (BENCH_SF10.md finding: with
    the testdata's fixed 10-label quantizer, cell population grows
    linearly with the corpus, so the per-cell matrix is quadratic overall
    — sf1 1.0 s but sf10 113 s at 10-way parallelism, with ~3.8 GB cosine
    matrices in flight). When set, a pre-pass counts each cell and
    REFINES oversized ones by the top ceil(log2(count/cap)) bits of a
    20-bit single-band SRP signature (:func:`srp_signatures` — the same
    deterministic integer machinery as the LSH tier, so refinement is
    reproducible cross-engine). Semantically this is SemDeDup with a
    finer quantizer — exactly how the paper scales (its k grows with the
    corpus; 50k clusters for LAION): near-dup groups split along subcell
    boundaries, so verdicts can differ from the uncapped run on
    cross-subcell pairs — a documented approximation-granularity change,
    not an error (and with the cap above every cell's population, output
    is IDENTICAL; pinned by test). Work returns to
    O(n * max_cell_rows) and parallelism to the refined cell count.
    """
    import numpy as np
    import pandas as pd

    def cell_verdict(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
        cent = X.mean(axis=0)
        cc = np.round(
            (X @ cent) / (np.linalg.norm(X, axis=1) * np.linalg.norm(cent)), 6
        )
        m = len(ids)
        if m < 2:
            near = np.zeros((m, m), dtype=bool)
        else:
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = np.round(Xn @ Xn.T, 6)
            near = (S >= threshold) & ~np.eye(m, dtype=bool)
        dom = near & (
            (cc[None, :] < cc[:, None])
            | ((cc[None, :] == cc[:, None]) & (ids[None, :] < ids[:, None]))
        )
        return pd.DataFrame(
            {
                "vec_id": ids,
                "label": np.full(m, int(pdf["label"].iloc[0]), dtype=np.int64),
                "cent_cos": cc,
                "n_near_dups": near.sum(axis=1).astype(np.int64),
                "keep": ~dom.any(axis=1),
            }
        )

    emb = embeddings.select("vec_id", "label", "embedding")
    out_schema = (
        "vec_id bigint, label bigint, cent_cos double, "
        "n_near_dups bigint, keep boolean"
    )
    splits = (
        _oversized_cell_splits(emb, max_cell_rows)
        if max_cell_rows is not None
        else []
    )
    if splits:
        return (
            _refine_oversized_cells(emb, splits)
            .groupBy("label", "_sub")
            .applyInPandas(cell_verdict, out_schema)
        )
    return emb.groupBy("label").applyInPandas(cell_verdict, out_schema)


def contamination_check(
    documents: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its word
    n-gram shingles appear ANYWHERE in the benchmark/eval corpus — the
    standard pre-training hygiene pass (an eval example leaking into
    training data inflates reported scores; docs over a contamination
    threshold get dropped or scrubbed).

    Plan shape for 100 TB training vs ~MB-scale eval sets: the benchmark
    side collapses to its DISTINCT shingle set first (tiny — eval sets are
    thousands of rows), then one shuffle keyed by shingle marks hits and
    one groupBy(doc_id) aggregates. The benchmark side is left un-hinted:
    AQE broadcasts it when its measured size allows (the normal case,
    making the mark step map-side), and degrades to a shuffle join if
    someone passes a benchmark the size of the corpus.

    Shuffle-payload valve at extreme scale: the per-doc distinct() ships
    shingle STRINGS (~tens of bytes each); when the benchmark side does
    not broadcast and the join itself must shuffle, mapping `sh` through
    xxhash64 on both sides first cuts shuffle bytes ~4x at a negligible
    collision risk for counting — kept off here because the cross-engine
    oracle would then need the md5 hash kernel on every shingle, which
    costs more than it saves at oracle scale.

    Returns (doc_id, n_shingles, n_contaminated, contamination_pct).
    """
    from flinkproject_spark.operators.text import with_tokens

    bench_sh = _shingle_rows(with_tokens(benchmark), n).select("sh").distinct()
    return score_against_shingles(documents, bench_sh, n)


def score_against_shingles(documents: DataFrame, bench_sh: DataFrame, n: int = 3) -> DataFrame:
    """contamination_check's scoring core against an ALREADY-shingled
    benchmark (`sh` column) — the form the streaming decontamination sink
    reuses per micro-batch against a persisted shingle set (shingle the
    eval corpus once, not once per trigger)."""
    from flinkproject_spark.operators.text import with_tokens

    doc_sh = _shingle_rows(with_tokens(documents), n).distinct()
    marked = doc_sh.join(
        bench_sh.select("sh").distinct().withColumn("hit", F.lit(1)), "sh", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), 4
            ).alias("contamination_pct"),
        )
    )


# ---------------------------------------------------------------------------
# bloom-filter decontamination (the constant-size-probe tier)
# ---------------------------------------------------------------------------
def bloom_positions(
    bench_sh: DataFrame,
    m_bits: int = K.BLOOM_M_DEFAULT,
    k: int = K.BLOOM_K_DEFAULT,
) -> DataFrame:
    """Distinct bloom bit positions (`pos` bigint) for a shingle set
    (`sh` column): one hash64 per distinct shingle, then the k
    Kirsch-Mitzenmacher probe positions (functions.bloom_pos).

    Output cardinality <= |distinct shingles| * k, but the VALUES live in
    [0, m_bits) — the position set is the relational encoding of the
    filter's bit array, which :func:`bloom_bitset` densifies.
    """
    shids = bench_sh.select(K.hash64("sh").alias("shid")).distinct()
    return _bloom_positions_from_shids(shids, m_bits, k)


def _bloom_positions_from_shids(shids: DataFrame, m_bits: int, k: int) -> DataFrame:
    return (
        shids.select(
            F.explode(
                F.array(*[K.bloom_pos(F.col("shid"), i, m_bits) for i in range(k)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_bitset(spark, positions: DataFrame, m_bits: int = K.BLOOM_M_DEFAULT) -> list:
    """Dense bitset words (ceil(m_bits/64) signed longs) from a position set.

    BOUNDED collect: the groupBy(word) aggregate returns at most
    m_bits/64 rows (16 K longs = 128 KB at the 2^20 default) no matter how
    large the benchmark is — that bound is the bloom tier's whole point.
    """
    rows = (
        positions.select(
            F.shiftright("pos", 6).alias("w"),
            # SQL text: PySpark's shiftleft wrapper only takes a literal count
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def bloom_contamination_check(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: "int | str" = "auto",
    k: int = K.BLOOM_K_DEFAULT,
    mode: str = "bitset",
) -> DataFrame:
    """Benchmark decontamination against a BLOOM FILTER of the eval set —
    the constant-size-probe form of :func:`contamination_check`.

    100 TB story: contamination_check joins training shingles against the
    benchmark's distinct shingle STRINGS — fine while AQE broadcasts them,
    but the probe structure grows with the eval corpus. This tier collapses
    the benchmark to m_bits BITS (128 KB at the 2^20 floor), sized ONCE at
    build time:

    - ``m_bits="auto"`` (default): m = max(2^20, 13 * |bench shingle ids|)
      — integer-only (functions.bloom_auto_m), ~<=1% false positives at
      k=3 no matter how large the eval set grows. A FIXED m saturates as
      k*|bench| approaches m (FP rate -> 1), the same failure family as a
      fixed LSH banding; pass an int to pin m for a known eval size.

    - ``mode="bitset"`` (production, the default): the filter ships as ONE
      broadcast row holding a 16 K-long array; each training shingle tests
      its k positions with pure JVM shift/and math — no join, no explode.
      The doc side's only wide ops are the fixed-width (doc_id, shid)
      distinct and the per-doc aggregation. The build's collect is bounded
      by m_bits/64 rows (see :func:`bloom_bitset`).
    - ``mode="positions"`` (fully declarative twin): the position SET
      (<= |bench shingles| * k bigints) left-joins the exploded probe rows;
      no driver-side materialization. This is the form the DuckDB oracle
      mirrors 1:1, and the two modes are pinned output-identical by test.

    Bloom semantics: NO false negatives — every shingle
    contamination_check counts is flagged here too; false positives at the
    classic (1 - e^{-k|bench|/m})^k rate can only push `n_flagged` ABOVE
    the exact tier's n_contaminated (property-tested). The filter is fully
    deterministic (md5-derived double hashing, functions.bloom_pos), so a
    cross-engine oracle reproduces it bit-identically. Shingles are
    counted per 60-bit hash64 id — collision-merged (~n^2/2^61 expected
    merges, nil at any real corpus), which also makes every shuffled key
    fixed-width instead of a shingle string.

    Returns (doc_id, n_shingles, n_flagged, flagged_pct); docs shorter
    than n tokens have no shingles and are absent, matching
    contamination_check.
    """
    from flinkproject_spark.operators.text import with_tokens

    if mode not in ("bitset", "positions"):
        raise ValueError(f"bloom_contamination_check: unknown mode {mode!r}")
    if isinstance(m_bits, str) and m_bits != "auto":
        raise ValueError(f"bloom_contamination_check: m_bits must be int or 'auto', got {m_bits!r}")

    bench_sh = _shingle_rows(with_tokens(benchmark), n).select("sh")
    bench_shids = bench_sh.select(K.hash64("sh").alias("shid")).distinct()
    if m_bits == "auto":
        # size the filter to the EVAL SET (one count on the tiny side —
        # the same adaptivity discipline as srp_recommended_banding): a
        # fixed m saturates once k*|bench| approaches m, degrading FP
        # rate, exactly like a fixed LSH banding saturating in n. The
        # default never binds below ~80 K benchmark shingles, so test-SF
        # outputs are unchanged; the oracle regenerates the identical
        # size from GREATEST(default, 13 * COUNT(bsh)).
        m_bits = K.bloom_auto_m(bench_shids.count())
    bpos = _bloom_positions_from_shids(bench_shids, m_bits, k)

    if mode == "bitset":
        words = bloom_bitset(documents.sparkSession, bpos, m_bits)
        return score_against_bloom(documents, words, n=n, m_bits=m_bits, k=k)

    probes = _bloom_doc_shids(documents, n).select(
        "doc_id",
        "shid",
        F.explode(
            F.array(*[K.bloom_pos(F.col("shid"), i, m_bits) for i in range(k)])
        ).alias("pos"),
    )
    marked = probes.join(bpos.withColumn("hit", F.lit(1)), "pos", "left")
    per_sh = marked.groupBy("doc_id", "shid").agg(
        (F.count("hit") == k).cast("int").alias("flagged")
    )
    return _bloom_doc_agg(per_sh)


def score_against_bloom(
    documents: DataFrame,
    words: list,
    n: int = 3,
    m_bits: int = K.BLOOM_M_DEFAULT,
    k: int = K.BLOOM_K_DEFAULT,
) -> DataFrame:
    """bloom_contamination_check's probe core against an ALREADY-DENSIFIED
    bitset (`words` from :func:`bloom_bitset`) — the form the streaming
    decontamination sink reuses per micro-batch (densify the eval filter
    once, probe every trigger with the same 128 KB broadcast row).

    The filter ships as ONE broadcast row holding the word array; each
    shingle tests its k positions with pure JVM shift/and math — no join,
    no explode on the probe path.
    """
    spark = documents.sparkSession
    bits = spark.createDataFrame([(words,)], "bits array<bigint>")

    # k static probe expressions — SQL text because the word's shift
    # count is per-row (PySpark's shiftright wrapper only takes a
    # literal); element_at is 1-based.
    def probe_sql(i: int) -> str:
        p = (
            f"((shid % {m_bits}) + {i} * "
            f"(1 + (shiftright(shid, 30) % {m_bits - 1}))) % {m_bits}"
        )
        return (
            f"((shiftright(element_at(bits, CAST(shiftright({p}, 6) AS INT) + 1), "
            f"CAST(({p}) % 64 AS INT)) & 1) = 1)"
        )

    flagged_sql = " AND ".join(probe_sql(i) for i in range(k))
    per_sh = _bloom_doc_shids(documents, n).join(F.broadcast(bits)).select(
        "doc_id", F.expr(flagged_sql).cast("int").alias("flagged")
    )
    return _bloom_doc_agg(per_sh)


def _bloom_doc_shids(documents: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, shid) rows: shingles hashed to fixed-width 60-bit
    ids BEFORE the dedup shuffle, so no shingle string is ever shuffled."""
    from flinkproject_spark.operators.text import with_tokens

    return (
        _shingle_rows(with_tokens(documents), n)
        .select("doc_id", K.hash64("sh").alias("shid"))
        .distinct()
    )


def _bloom_doc_agg(per_sh: DataFrame) -> DataFrame:
    """(doc_id, flagged) shingle rows -> the per-doc contamination report."""
    return (
        per_sh.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("flagged").cast("bigint").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_flagged",
            F.round(
                F.col("n_flagged").cast("double") / F.col("n_shingles"), 4
            ).alias("flagged_pct"),
        )
    )


def dedup_survivors(documents: DataFrame) -> DataFrame:
    """Apply exact dedup: keep only each content group's canonical doc —
    the LEFT ANTI join that turns dedup *detection* into an actual
    filtered corpus (the step a 100 TB training pipeline runs after
    exact_dedup; the reference has no anti joins at all — SURVEY §2E).

    The duplicate-loser set (dup groups minus keepers) is a small fraction
    of the corpus, so the anti join broadcasts it in practice; the plan
    stays a single scan of documents plus the dedup aggregate."""
    losers = (
        exact_dedup(documents)
        .filter(F.col("dup_ct") > 1)
        .select(F.col("content_md5").alias("dup_md5"), "keeper_id")
    )
    with_md5 = documents.select("doc_id", "lang", F.md5("text").alias("content_md5"))
    return (
        with_md5.join(
            losers,
            (with_md5.content_md5 == losers.dup_md5)
            & (with_md5.doc_id != losers.keeper_id),
            "left_anti",
        )
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new batch vs persisted corpus index
# ---------------------------------------------------------------------------
def content_index(documents: DataFrame) -> DataFrame:
    """The persisted side of incremental dedup: one row per distinct content
    hash already ingested. In production this table is written bucketed on
    content_md5 (scale.write_bucketed) so every future anti-join against it
    is co-located — pay the shuffle once at ingest, never at dedup time."""
    return documents.select(F.md5("text").alias("content_md5")).distinct()


def incremental_dedup(new_docs: DataFrame, index: DataFrame) -> DataFrame:
    """Admit only documents whose content is BOTH new within this batch
    (lowest doc_id wins intra-batch) and absent from the persisted corpus
    index — the steady-state form of exact dedup for a pipeline that
    ingests continuously (a full-corpus re-dedup per batch is O(corpus);
    this is O(batch) plus one anti-join against the index).

    Plan: intra-batch winners via the keeper window (_keepers) on
    content_md5, then LEFT ANTI against the index. Both sides
    hash-partition on content_md5; with the index stored bucketed on that
    key the anti-join is exchange-free on the index side.
    """
    batch_winners = _keepers(
        new_docs.select("doc_id", "lang", F.md5("text").alias("content_md5")),
        "content_md5",
    )
    return (
        batch_winners.join(index, "content_md5", "left_anti")
        .select("doc_id", "lang")
    )


def chunk_level_dedup(documents: DataFrame, chunk_tokens: int = 40) -> DataFrame:
    """Sub-document exact dedup: hash DISJOINT chunk_tokens-token chunks
    (text.chunk_documents, overlap=0) and group identical chunks across
    the corpus — the paragraph-granularity pass (boilerplate headers,
    license blocks, templated sections repeat across documents whose
    full texts differ, so doc-level dedup never sees them).

    Same single hash-groupBy shuffle shape as exact_dedup, after a narrow
    chunk explode. The keeper is the lexicographically smallest
    (doc_id, chunk_id), encoded as one integer key (doc_id * 2^20 +
    chunk_id — chunk counts are bounded far below 2^20 by document
    length) so MIN() is a plain bigint aggregate both engines order
    identically. Emits only duplicated chunks: (chunk_md5, keeper_doc,
    keeper_chunk, dup_ct, n_docs)."""
    from flinkproject_spark.operators.text import chunk_documents

    ch = chunk_documents(documents, chunk_tokens, overlap=0)
    hashed = ch.select(
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        (F.col("doc_id") * F.lit(2**20) + F.col("chunk_id")).alias("k"),
    )
    return (
        hashed.groupBy("chunk_md5")
        .agg(
            F.min("k").alias("mk"),
            F.count("*").alias("dup_ct"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("dup_ct") > 1)
        .select(
            "chunk_md5",
            F.expr(f"mk div {2**20}").alias("keeper_doc"),
            F.pmod("mk", F.lit(2**20)).cast("bigint").alias("keeper_chunk"),
            "dup_ct",
            "n_docs",
        )
    )


def chunk_dedup_apply(documents: DataFrame, chunk_tokens: int = 40) -> DataFrame:
    """APPLY chunk-level dedup: remove every duplicated chunk instance
    except its corpus-wide keeper (lexicographically smallest
    (doc_id, chunk_id)) and reassemble each document's surviving chunks in
    order — the text-cleaning step that strips repeated boilerplate from
    the non-keeper documents while leaving exactly one copy in the corpus.

    Same shuffle budget as detection (one groupBy on the chunk hash to
    find keepers, broadcast-size result of which is NOT assumed — the
    keeper map joins back on chunk_md5, one more hash-keyed shuffle) plus
    one groupBy(doc_id) to reassemble; ordering within a doc is an
    array_sort over (chunk_id, text) structs, bounded by document length,
    never a window. Docs whose every chunk was a non-keeper duplicate
    vanish from the output (nothing survives); count columns make the
    removal auditable. Returns (doc_id, clean_text, n_chunks_kept,
    n_chunks_dropped)."""
    from flinkproject_spark.operators.text import chunk_documents

    ch = chunk_documents(documents, chunk_tokens, overlap=0).select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        F.md5("chunk_text").alias("chunk_md5"),
        (F.col("doc_id") * F.lit(2**20) + F.col("chunk_id")).alias("k"),
    )
    groups = ch.groupBy("chunk_md5").agg(
        F.min("k").alias("mk"), F.count("*").alias("ct")
    )
    marked = ch.join(groups, "chunk_md5")
    kept = marked.filter((F.col("ct") == 1) | (F.col("k") == F.col("mk")))
    totals = ch.groupBy("doc_id").agg(F.count("*").alias("n_total"))
    out = (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ).getField("chunk_text"),
            ).alias("clean_text"),
            F.count("*").alias("n_chunks_kept"),
        )
    )
    return out.join(totals, "doc_id").select(
        "doc_id",
        "clean_text",
        "n_chunks_kept",
        (F.col("n_total") - F.col("n_chunks_kept")).alias("n_chunks_dropped"),
    )


def duplicated_spans(
    documents: DataFrame,
    w: int = 8,
    min_docs: int = 2,
    include_intra_doc: bool = False,
) -> DataFrame:
    """Exact repeated-SPAN detection — the distributed re-expression of
    suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): hash every w-token
    ROLLING window (stride 1), mark each window whose hash occurs in >=
    `min_docs` distinct documents, then merge overlapping marked windows
    per document into MAXIMAL duplicated spans via the standard SQL
    interval-merge (running max of window end; a window starting past
    every previous end opens a new span).

    Complements :func:`chunk_level_dedup` (disjoint 40-token chunks): the
    chunk pass is alignment-SENSITIVE — a one-token prefix shift moves
    every chunk boundary and hides the repeat — while rolling grams are
    alignment-free, the property that makes the suffix-array formulation
    the published gold standard for training-corpus cleaning. w=50 in the
    paper; the default here is sized to the synthetic corpus (reference
    analog: none — extension surface beyond FlinkProject's operators).

    Scale posture: gram rows are LINEAR in corpus tokens (one row per
    position — this pipeline never materializes pairs, so a hot
    boilerplate gram costs df rows, not df^2); the df count is one
    hash-groupBy on the gram hash with map-side partial aggregation; the
    dup-hash join is a hash-keyed equi-join (AQE broadcasts it when the
    duplicated-gram set is small); span assembly shuffles per-doc rows
    once, group size bounded by document length. The gram text itself is
    dropped at the md5 — the shuffled rows are (doc_id, pos, 32-char
    hash), w-independent width.

    SEMANTICS — CROSS-DOCUMENT ONLY by default (ADVICE r07): a gram is
    marked when it occurs in >= `min_docs` DISTINCT documents, so a span
    repeated many times WITHIN one document is NOT detected — a
    deliberate divergence from the cited suffix-array method, which also
    removes intra-document repeats. `include_intra_doc=True` switches
    the mark rule to total OCCURRENCE count >= min_docs (a gram
    appearing twice in one doc then qualifies, the Lee-et-al.-faithful
    rule); `nd`/`nd_max` then report occurrences, not documents. The
    default stays distinct-doc because the streaming twin
    (span_incremental_writer) and the sf0.01 oracle pin that form.

    Emits one row per maximal span: (doc_id, span_start, span_len,
    n_grams, nd_max) — start token index, tokens covered, member
    windows, and the worst multiplicity inside the span (distinct
    documents by default, occurrences with include_intra_doc).
    """
    # ONE pass over the gram rows: the multiplicity is computed as window
    # aggregates over the gh partition instead of a groupBy(gh) aggregate
    # joined back against a SECOND execution of the gram subplan (the r10
    # form tokenized + windowed the corpus twice and shuffled the gram
    # rows twice — guide-§2.4's "two operations keyed the same way share
    # one exchange"). Exact-distinct-per-partition uses the standard
    # dense_rank/max identity (countDistinct is not a window function).
    gh = span_gram_rows(documents, w)
    wgh = Window.partitionBy("gh")
    if include_intra_doc:
        marked = gh.select("doc_id", "pos", F.count("*").over(wgh).alias("nd"))
    else:
        whole = wgh.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        marked = (
            gh.withColumn(
                "rk", F.dense_rank().over(wgh.orderBy("doc_id"))
            )
            .withColumn("nd", F.max("rk").over(whole).cast("bigint"))
            .select("doc_id", "pos", "nd")
        )
    marked = marked.filter(F.col("nd") >= min_docs)
    return merge_marked_spans(marked, w)


def span_gram_rows(documents: DataFrame, w: int = 8) -> DataFrame:
    """(doc_id, pos, gh) rows: the md5 of every rolling w-token window,
    keyed by its start token index — the posexplode+lead codegen form
    (see _shingle_rows for why not the higher-order-function form).
    Shared by the batch detector (duplicated_spans) and the streaming
    incremental index (streaming.sinks.span_incremental_writer)."""
    tok = documents.withColumn("x", tokens("text")).select(
        "doc_id", F.posexplode("x").alias("pos", "w0")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w0", k).over(win).alias(f"w{k}") for k in range(1, w)]
    grams = tok.select("doc_id", "pos", "w0", *leads).filter(
        F.col(f"w{w-1}").isNotNull()
    )
    return grams.select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", *[f"w{k}" for k in range(w)])).alias("gh"),
    )


def merge_marked_spans(marked: DataFrame, w: int = 8) -> DataFrame:
    """(doc_id, pos, nd) marked-window rows -> maximal merged spans
    (doc_id, span_start, span_len, n_grams, nd_max) via the running-max
    interval merge (windows at p and p' overlap iff |p - p'| < w, so
    adjacency is 'starts at or before the previous running end')."""
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    spans = (
        marked.withColumn("prev_end", F.max(F.col("pos") + w).over(prev))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("gid", F.sum("new_span").over(run))
    )
    return spans.groupBy("doc_id", "gid").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + w - F.min("pos")).cast("bigint").alias("span_len"),
        F.count("*").alias("n_grams"),
        F.max("nd").alias("nd_max"),
    ).select("doc_id", "span_start", "span_len", "n_grams", "nd_max")


def span_dedup_apply(documents: DataFrame, w: int = 8) -> DataFrame:
    """APPLY repeated-span dedup: strip duplicated spans from every
    document EXCEPT each gram's corpus-wide keeper (the minimum doc_id
    holding it), keeping exactly one copy of repeated content in the
    corpus — the scrub step of suffix-array substring dedup (Lee et al.
    2022 cut duplicated spans the same way; chunk_dedup_apply is the
    disjoint-chunk analog of this rolling-window form). Like
    :func:`duplicated_spans`, the dup test is CROSS-DOCUMENT only
    (distinct-doc count >= 2): content repeated solely within one
    document is kept — a documented divergence from the suffix-array
    method, which scrubs intra-document repeats too (ADVICE r07).

    Token-level rule: a token is DROPPED when at least one duplicated
    window covering it is a non-keeper copy and NO covering duplicated
    window is keeper-owned by this document (keeper windows protect
    their tokens, so the retained copy survives even where spans
    overlap). Documents whose every token is dropped vanish from the
    output; count columns make the removal auditable.

    Scale: the same linear gram pipeline as duplicated_spans plus a
    w-bounded coverage explode (each marked window marks <= w token
    rows — never a pair expansion), one (doc_id, t) flag aggregation,
    and a per-doc reassembly groupBy whose group size is bounded by
    document length (array_sort over (t, token) structs, never a
    window). Returns (doc_id, clean_text, n_tokens_kept,
    n_tokens_dropped)."""
    # ONE pass over the gram rows (same rewrite as duplicated_spans): the
    # per-gram distinct-doc count and keeper owner are window aggregates
    # over the gh partition — dense_rank/max for the exact distinct count,
    # min(doc_id) for the owner — instead of a groupBy(gh) aggregate
    # joined back against a second execution of the gram subplan. One
    # shuffle + one sort of the gram rows replaces two gram passes and
    # two gram-row shuffles (r11 optimization).
    gh = span_gram_rows(documents, w)
    wgh = Window.partitionBy("gh")
    whole = wgh.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marked = (
        gh.withColumn("rk", F.dense_rank().over(wgh.orderBy("doc_id")))
        .withColumn("nd", F.max("rk").over(whole))
        .withColumn("min_owner", F.min("doc_id").over(whole))
        .filter(F.col("nd") >= 2)
        .select(
            "doc_id",
            "pos",
            (F.col("doc_id") == F.col("min_owner")).alias("is_keeper"),
        )
    )
    cov = marked.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + w - 1)).alias("t"),
        "is_keeper",
    )
    flags = cov.groupBy("doc_id", "t").agg(
        F.max(F.col("is_keeper").cast("int")).alias("any_keeper"),
        F.max((~F.col("is_keeper")).cast("int")).alias("any_rem"),
    )
    tok = documents.withColumn("x", tokens("text")).select(
        "doc_id", F.posexplode("x").alias("t", "tok")
    )
    joined = tok.join(flags, ["doc_id", "t"], "left")
    kept = joined.filter(
        ~F.coalesce(
            (F.col("any_rem") == 1) & (F.col("any_keeper") == 0), F.lit(False)
        )
    )
    # n_total is a NARROW projection (array size), never a groupBy over
    # the exploded token rows — one scan, no shuffle, joins the handful
    # of output rows on doc_id
    totals = documents.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_total")
    )
    out = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.array_sort(F.collect_list(F.struct("t", "tok"))).getField("tok"),
        ).alias("clean_text"),
        F.count("*").alias("n_tokens_kept"),
    )
    return out.join(totals, "doc_id").select(
        "doc_id",
        "clean_text",
        "n_tokens_kept",
        (F.col("n_total") - F.col("n_tokens_kept")).alias("n_tokens_dropped"),
    )


def normalized_exact_dedup(documents: DataFrame) -> DataFrame:
    """Near-exact dedup: canonicalize text (lowercase, strip non-alnum,
    collapse whitespace) BEFORE hashing — the cheap pass that catches
    trivially-edited copies (case changes, punctuation, reflowed spaces)
    that byte-exact dedup misses but MinHash is overkill for.

    Same output contract and plan shape as exact_dedup: one hash-groupBy,
    no text comparison; the canonicalization is three codegen'd string
    kernels fused into the scan projection.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        documents.select("doc_id", F.md5(norm).alias("norm_md5"))
        .groupBy("norm_md5")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("dup_ct"))
    )


# ---------------------------------------------------------------------------
# Dedup clusters — connected components over the near-dup pair graph
# ---------------------------------------------------------------------------
def _neighbor_min(edges: DataFrame, labels: DataFrame, use_broadcast: bool) -> DataFrame:
    """One propagation round: for every src vertex, the min label over its
    neighbours. The edge side is broadcast only when the caller measured it
    small; otherwise the join is left un-hinted so AQE picks the strategy
    (shuffle join, or its own broadcast if runtime stats allow)."""
    e = F.broadcast(edges) if use_broadcast else edges
    return (
        e.join(labels, edges.dst == labels.id)
        .groupBy("src")
        .agg(F.min("label").alias("nmin"))
    )


# The algorithm="auto" switch. BENCH_CC_SCALE.md's "connected_components
# (propagation) vs connected_components_star" table has star winning at
# every size on its diameter-adversarial chain-heavy graphs, and at ~2M
# edges propagation exceeded its 50-round bound while star converged in
# 9 rounds / 21 s. Propagation is kept below the broadcast gate because
# real LSH pair graphs are low-diameter: there it converges in 3-5
# broadcast map-side rounds against star's fixed 8-9 shuffle rounds (the
# note under the same table). Above the gate the edge list cannot
# broadcast and star is strictly the right form; at 100 TB an LSH pair
# graph lands far above it and auto always picks star.
STAR_MIN_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
    broadcast_max_edges: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Transitive closure of pairwise matches: min-label propagation until
    fixpoint, giving every vertex its component's smallest member id as
    `cluster_id` — the step that turns PAIR detection (MinHash/SimHash/
    ngram emit pairs) into per-CLUSTER canonical picks (near-dup chains
    A~B~C must collapse to ONE keeper even when A!~C directly).

    The iterative class the rest of the engine doesn't need: a driver loop
    of join+min-aggregate rounds, each round lineage-truncated with
    localCheckpoint (unbounded lineage is the classic iterative-Spark
    trap). Each round combines one neighbour-min step with one
    POINTER-JUMP step (label := label of label, computed join-free via a
    union/window — see the in-loop comment), which flattens converged
    label subtrees in one round. Honest round bound: the jump shortcuts
    label-CHAIN depth, but the minimum still enters a path component via
    frontier-advancing neighbour steps, so path-heavy graphs converge in
    O(effective diameter) rounds with a small constant, not O(log d) —
    measured 35+ rounds on a 10k-edge chain/clique/random mix
    (BENCH_CC_SCALE.md). max_iter=50 covers that with rounds that
    are flat-cost; genuinely high-diameter graphs belong on
    `connected_components_star` (proven O(log^2 n)). Raises RuntimeError
    rather than returning non-converged labels.

    Scale guard: the per-round map-side join is only forced when the edge
    list is MEASURED small (`broadcast_max_edges`, counted once off the
    already-materialized checkpoint — an O(1)-ish metadata read, not a
    recompute). A 100 TB near-dup pair graph can run to tens of GB; an
    unconditional `F.broadcast(edges)` there OOMs driver and executors, so
    past the threshold the join is left un-hinted and AQE decides. For
    graphs too large even for per-round shuffle-join propagation,
    :func:`connected_components_star` is the unbounded-graph form
    (alternating large-star/small-star, Kiveris et al., "Connected
    Components in MapReduce and Beyond") — pure grouped aggregations, no
    joins against a growing label table, no broadcast anywhere.
    """
    # materialize the pair list BEFORE the bidirectional union: Spark does
    # not reuse common subplans across union branches, so an uncached union
    # would execute the whole upstream pair pipeline (e.g. MinHash) twice —
    # and every propagation round would re-execute it again. The pair list
    # itself is tiny (O(matches)). Both checkpoints are LAZY since r12:
    # the strategy-gate count right below materializes the edges RDD —
    # which computes (and caches) the pairs RDD once inside the same job —
    # so the two construction-time eager sync jobs are gone.
    pairs = pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).localCheckpoint(eager=False)
    edges = (
        pairs.unionByName(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one count decides the join strategy for every round (and pays the
    # checkpoint materialization); neighbor_min is bounded by the
    # touched-vertex count (<= 2*edges), so the same gate covers both hints
    n_edges = edges.count()
    small_graph = n_edges <= broadcast_max_edges
    if stats is not None:
        stats.update(edges=n_edges, algorithm="propagation")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for it in range(max_iter):
        neighbor_min = _neighbor_min(edges, labels, use_broadcast=small_graph)
        nmin_side = F.broadcast(neighbor_min) if small_graph else neighbor_min
        # start_label rides along so the round-end convergence check is a
        # column comparison on the new label table instead of a join back
        # against the previous one — with the lazy checkpoints below, each
        # round costs ONE job (the changed-count), not three (r11
        # optimization: stepped/new_labels materialize inside that job)
        stepped = (
            labels.join(nmin_side, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("start_label"),
            )
            .localCheckpoint(eager=False)
        )
        # pointer jump: label := min(label, label(label)) — shortcuts
        # label-chain depth so converged subtrees flatten in one round.
        # Implemented WITHOUT a join: the obvious form (label table joined
        # to itself on the label VALUE) exhibited ~3x wall-time growth per
        # round past ~18 rounds at 10k edges with constant plan, inputs,
        # and outputs (a JVM-side join pathology measured while building
        # BENCH_CC_SCALE.md; broadcast hint, AQE, and
        # separate checkpoints made no difference). This union/window form
        # — "question" rows keyed by my label, "answer" rows keyed by my
        # id carrying my label; the per-key min over answers IS
        # label(label) — is one near-uniform shuffle, flat-cost across
        # rounds, the same no-join shape as the star operators.
        lbl_t = stepped.schema["label"].dataType
        u = stepped.select(
            F.col("label").alias("key"),
            F.lit(0).alias("kind"),
            F.col("id").alias("payload"),
            F.col("label").alias("old_label"),
            "start_label",
        ).unionByName(
            stepped.select(
                F.col("id").alias("key"),
                F.lit(1).alias("kind"),
                F.col("label").alias("payload"),
                F.lit(None).cast(lbl_t).alias("old_label"),
                F.lit(None).cast(lbl_t).alias("start_label"),
            )
        )
        wj = Window.partitionBy("key")
        ans = F.min(F.when(F.col("kind") == 1, F.col("payload"))).over(wj)
        new_labels = (
            u.withColumn("ans", ans)
            .filter(F.col("kind") == 0)
            .select(
                F.col("payload").alias("id"),
                F.least(
                    F.col("old_label"), F.coalesce(F.col("ans"), F.col("old_label"))
                ).alias("label"),
                "start_label",
            )
            .localCheckpoint(eager=False)
        )
        # the count IS the round's one driver sync: it materializes both
        # lazy checkpoints and answers convergence from the carried
        # start_label — same comparison the r10 join computed
        changed = new_labels.filter(
            F.col("label") != F.col("start_label")
        ).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = it + 1
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. §3): for every vertex u, connect
    each STRICTLY LARGER neighbour v > u to the minimum of u's closed
    neighbourhood. One window shuffle; per-ROW emission, no per-group
    state at all.

    WINDOW-MIN form, not collect_set+explode (round-6 fix): as the graph
    converges, a big component's center accumulates degree ~ component
    size, and a collect_set over a 10^5-degree hub hits Spark's
    sort-based TypedImperativeAggregate fallback, which re-serializes the
    growing set buffer per merge — QUADRATIC in degree (measured: one
    119,872-degree hub turned a 1 s round into 56 s; three such rounds
    made 395k edges cost 481 s). min() over a window partitioned by u is
    a plain streaming agg after the same single shuffle — linear in
    degree, so hubs cost what their row count costs. Duplicate (v, m)
    emissions (the set semantics collect_set provided) are removed by the
    caller's round-end distinct(), which ran anyway."""
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        edges.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge large->small, then for every
    vertex u connect each not-larger neighbour (and u itself) to the
    neighbourhood minimum. Same window-min shape as `_large_star` (same
    hub-degree quadratic avoided); the one per-group row (u -> min) is
    emitted via row_number() == 1 on the SAME window sort, not a second
    shuffle."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u")
    wo = w.orderBy("v")
    rows = oriented.select(
        "u",
        "v",
        # all vs < u after strict orientation, so min(vs) == closed-nbhd min
        F.min("v").over(w).alias("m"),
        F.row_number().over(wo).alias("rn"),
    )
    nbr_edges = rows.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = rows.filter(F.col("rn") == 1).select("u", F.col("m").alias("v"))
    return nbr_edges.unionByName(self_edge).filter(F.col("u") != F.col("v"))


def connected_components_star(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Unbounded-graph connected components: alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) until the edge set reaches a fixpoint — at which
    point the graph is a star forest whose centers are the component
    minima, read off directly as (id, cluster_id).

    Why this is THE 100 TB form (vs :func:`connected_components`'s
    label-propagation loop):

    - **No joins at all** — each half-round is one groupBy shuffle over the
      edge list; there is no label table growing joins against it and
      nothing to broadcast, so no driver-memory assumption anywhere.
    - **O(log^2 n) rounds** proven for arbitrary graphs (vs diameter
      rounds for propagation) — the star operations actively shortcut
      paths instead of walking them.
    - Per-group state is a vertex's neighbour set: bounded by max degree.
      LSH pair graphs are degree-bounded by construction (bucket caps);
      a pathological hub vertex degrades one task, not the algorithm.

    Both implementations return identical results (equality-tested); the
    propagation form stays the default for edge lists measured small
    because its broadcast rounds are cheaper at bench scale.
    """
    # lazy (r12): the first fixpoint signature below is the action that
    # materializes the edge checkpoint; the vertex set is read once (the
    # final center anti-join) and pins the original edge RDD reference
    # while the loop reassigns `edges`
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    vertices = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # fixpoint detection: (row count, order-free checksum) of the oriented
    # distinct edge set — one cheap agg per round off the checkpoint
    def _sig(e: DataFrame) -> tuple[int, int]:
        r = (
            e.select(F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b"))
            .distinct()
            .agg(
                F.count("*").alias("n"),
                # bit_xor: order-free AND overflow-free (a sum of int64
                # hashes trips ANSI overflow); distinct() upstream means no
                # duplicate edge can self-cancel
                F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
            )
            .first()
        )
        return r.n, r.h

    sig = _sig(edges)
    if stats is not None:
        stats.update(edges=sig[0], algorithm="star")
    converged = False
    for it in range(max_iter):
        # bidirectional view for large-star (it needs every incident edge at u)
        bidir = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # lazy: the signature aggregate right below is the round's one
        # driver sync and materializes the checkpoint — eager=True spent
        # a second full job per round on the same work (r11 optimization)
        edges = _small_star(_large_star(bidir)).distinct().localCheckpoint(eager=False)
        new_sig = _sig(edges)
        if new_sig == sig:
            converged = True
            if stats is not None:
                stats["rounds"] = it + 1
            break
        sig = new_sig
    if not converged:
        # Mirror connected_components: the final groupBy('u').min('v') read
        # assumes a star forest — on a non-converged graph it would silently
        # return wrong labels, so fail loudly instead.
        raise RuntimeError(
            f"connected_components_star did not reach the edge-set fixpoint "
            f"within max_iter={max_iter} rounds (O(log^2 n) expected); raise "
            f"max_iter"
        )
    # converged star forest: every non-center u has edges only to its
    # center (min-label); centers appear only on the v side
    centers = vertices.join(edges, vertices.id == edges.u, "left_anti")
    return (
        edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
        .select(F.col("u").alias("id"), "cluster_id")
        .unionByName(centers.select("id", F.col("id").alias("cluster_id")))
    )


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    algorithm: str = "propagation",
) -> DataFrame:
    """Full cluster manifest: every document with its near-dup cluster id
    (its component's min doc_id; singletons are their own cluster) and the
    cluster size — what a pipeline joins against to keep one doc per
    cluster. Pairs default to the MinHash+LSH tier.

    algorithm="propagation" (default): min-label loop, broadcast-gated —
    fastest when the pair graph is measured small. algorithm="star": the
    alternating-star unbounded-graph form; identical output.
    algorithm="auto": MEASURE the edge count once (off an eager
    localCheckpoint both algorithms reuse) and pick propagation below
    STAR_MIN_EDGES, star above — the crossover recorded in
    BENCH_CC_SCALE.md."""
    if algorithm not in ("propagation", "star", "auto"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if pairs is None:
        pairs = minhash_lsh_dedup(documents)
    if algorithm == "auto":
        # lazy: the crossover count below materializes the checkpoint (r12)
        pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
        algorithm = "star" if pairs.count() > STAR_MIN_EDGES else "propagation"
    cc = connected_components_star if algorithm == "star" else connected_components
    comp = cc(pairs)
    all_docs = documents.select(F.col("doc_id").alias("id"))
    labeled = (
        all_docs.join(comp, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )
