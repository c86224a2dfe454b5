"""North-star pipeline assembly: end-to-end training-corpus builds.

The reference's jobs compose log streams into serving tables; the analog a
pre-training data platform runs over `documents` is a composition of
oracle-checked corpus stages, each defined once in its operator module:

- keeper dedup          (dedup._keepers — row_number over a content key,
                         lowest doc_id wins; one shuffle on the key)
- quality score         (text.quality_score — the length + diversity
                         composite, via sampling._quality_scored)
- stratified sampling   (sampling.stratified_sample — deterministic
                         hash-Bernoulli per source)
- token-budget packing  (sampling._pack_under_budget — greedy prefix under
                         the budget, ranked by a score, doc_id tiebreak)

Three builds compose them: v2 (PII scrub, Gopher gate, decontamination,
md5 dedup, quality gate, sample, quality-ranked pack), v3 (fused profile
gate, bag-of-words fingerprint dedup, DSIR selection, curriculum order)
and v5 (span scrub, md5 dedup, Naive Bayes gate, margin-ranked pack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flinkproject_spark.operators import dedup, sampling, text


def build_training_corpus_v2(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    max_contamination: float = 0.2,
    min_quality: float = 0.5,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    budget_tokens: int = 1_000_000_000,
) -> DataFrame:
    """The FULL-surface corpus build — every hygiene stage a production
    pre-training pipeline runs, in canonical order, each stage an
    oracle-checked operator:

      1. PII redaction       (text.redact_pii — all downstream stages see
                              scrubbed text, so hashes/shingles/tokens
                              never touch raw PII; production feeds raw
                              text directly — the bench wrapper seeds
                              synthetic PII via text.seed_pii BEFORE
                              calling this plan so redaction is observable
                              on the synthetic corpus)
      2. Gopher quality gate (text.gopher_quality_flags conjunction —
                              named-rule rejection, scan-speed)
      3. decontamination     (dedup.contamination_check vs the eval corpus;
                              docs over max_contamination drop)
      4. exact dedup         (md5 keeper window on the REDACTED text —
                              scrubbing first means two docs differing only
                              in PII collapse to one)
      5. quality gate        (text.quality_score >= min_quality)
      6. stratified sampling (sampling.stratified_sample)
      7. token-budget pack   (greedy quality-first prefix under budget)

    Stage order is load-bearing: redaction before hashing (4) and before
    shingling (3) so PII spans can't split otherwise-identical content;
    the quality/contamination gates before sampling so rates apply to the
    clean pool. The shuffles are the dedup window, the pack window and
    one shingle-key shuffle for stage 3.
    """
    # Stage-reuse design (VERDICT r03 #7 — the audited plan re-executed the
    # scrubbed-text subplan 8x, 36 parquet scans): every stage that CAN be a
    # chained filter is one (gopher via passthrough flags, dedup via a
    # content-hash window), so the redaction projection flows through a
    # single lineage. The one structurally-unavoidable self-join left is
    # decontamination (its score changes grain: doc -> shingles -> doc), so
    # the scrubbed corpus is localCheckpoint'ed (lazy) right before that
    # branch — materialize once, both sides read the blocks. Measured at
    # sf0.01: 36 scans -> 3, 6.2 s -> ~2 s, identical oracle hash.
    base = text.redact_pii(documents, passthrough=True).select(
        "doc_id", F.col("redacted").alias("text"), "lang", "source"
    )
    base = (
        text.gopher_quality_flags(base, passthrough=True)
        .filter("keep")
        .select(*base.columns)
    )
    if benchmark is not None:
        base = base.localCheckpoint(eager=False)
        clean = dedup.contamination_check(base, benchmark).filter(
            F.col("contamination_pct") <= max_contamination
        ).select("doc_id")
        base = base.join(clean, "doc_id")
    base = dedup._keepers(base, F.md5("text"))

    scored = sampling._quality_scored(base).filter(
        F.col("quality_score") >= min_quality
    )
    if rates:
        scored = sampling.stratified_sample(scored, rates, default_rate=default_rate)
    return sampling._pack_under_budget(scored, "quality_score", budget_tokens)


def build_training_corpus_v3(
    documents: DataFrame,
    min_quality: float = 0.5,
    bands: int = 4,
    target_lang: str = "en",
    min_importance: float = 0.0,
    shards: int = 64,
    seed: str = "curriculum",
) -> DataFrame:
    """The MODERN selection-and-ordering corpus build — the round-4 surface
    composed end to end, each stage an oracle-checked operator:

      1. fused profile gate   (text.corpus_profile's columns inline:
                               Gopher conjunction AND quality >= threshold
                               in the scan projection — one pass)
      2. fingerprint dedup    (bag-of-words md5 window — collapses
                               token-PERMUTED duplicates byte-exact dedup
                               misses; one content-hash shuffle)
      3. DSIR selection       (text.dsir_vocab ∘ score_against_vocab on
                               the deduped pool, keep log-importance >=
                               threshold — arXiv:2302.03169's
                               select-toward-target step)
      4. curriculum ordering  (sampling.curriculum_order's banding +
                               shard permutation on the SELECTED pool —
                               easy-first phases, seeded in-phase shuffle)

    Stage order is load-bearing: dedup before DSIR so duplicate mass can't
    bias the raw-side LM; selection before ordering so band boundaries
    describe the corpus that actually trains. The vocab branch changes
    grain (doc -> tokens -> vocab -> doc), so the pool is
    localCheckpoint'ed (lazy) before it — v2's measured stage-reuse fix.
    """
    # stage 1 IS corpus_profile — the passthrough form keeps text for the
    # downstream stages; no expression is re-spelled here
    gated = (
        text.corpus_profile(documents, passthrough=True)
        .filter(F.col("gopher_keep") & (F.col("quality_score") >= min_quality))
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            "quality_score",
            F.col("fingerprint").alias("fp"),
        )
    )

    pool = dedup._keepers(gated, "fp").drop("fp").localCheckpoint(eager=False)
    scores = text.score_against_vocab(
        pool, text.dsir_vocab(pool, target_lang)
    )
    sel = pool.join(
        scores.filter(F.col("log_importance") >= min_importance).select(
            "doc_id", "log_importance"
        ),
        "doc_id",
    )

    # stage 4 IS sampling.curriculum_order — handed the already-scored
    # selection; lang/source/log_importance carry through
    ordered = sampling.curriculum_order(
        bands=bands,
        seed=seed,
        shards=shards,
        scored=sel.select(
            "doc_id", "lang", "source", "log_importance", "quality_score"
        ),
    )
    return ordered.select(
        "doc_id",
        "lang",
        "source",
        "phase",
        "shard",
        "quality_score",
        "log_importance",
        "global_pos",
    )


def build_training_corpus_v5(
    documents: DataFrame,
    model: DataFrame,
    w: int = 8,
    budget_tokens: int = 10_000,
) -> DataFrame:
    """The SUB-DOCUMENT-clean, TRAINED-classifier corpus build: the
    quality stage is the persisted Naive Bayes model's verdict over the
    SCRUBBED text (the text that actually trains) and the budget pack
    ranks by the classifier MARGIN (nb_score_ppm, exact int64):

      1. span scrub   (dedup.span_dedup_apply — strip repeated w-token
                       spans from non-keeper copies, keeper protected:
                       Lee et al.'s cut step runs BEFORE doc-level dedup
                       so shared boilerplate can't make distinct docs
                       read as near-dups downstream)
      2. doc dedup    (md5 keeper window over the SCRUBBED text —
                       scrubbing can turn former near-dups byte-identical)
      3. NB gate      (text.nb_model_score under the `model` table from
                       nb_quality_fit: prior + int64 sum of token
                       log-odds; keep iff margin > 0. The model is fit
                       ONCE on the raw corpus and applied to scrubbed
                       text — the production reality, where the
                       classifier predates the day's cleaning run; OOV
                       tokens created by scrubbing score a sound 0)
      4. budget pack  (greedy highest-margin prefix under budget_tokens,
                       ties to smallest doc_id)

    Stage order is load-bearing both ways: scrub-before-dedup (above) and
    dedup-before-gate, so a duplicated doc can't spend budget twice.
    Documents whose every token was a non-keeper duplicate vanish at
    stage 1. Returns (doc_id, n_tokens, n_tokens_dropped, nb_score_ppm,
    cum_tokens) — lang/source are deliberately not joined back; the
    manifest keys on doc_id. The dedup window and the pack window are the
    only data-scale shuffles; the vocab join is broadcastable
    (Zipf-small model table)."""
    scrubbed = dedup.span_dedup_apply(documents, w)
    # feats AND the NB scorer both read the scrubbed+deduped corpus;
    # materialize it once (lazy) or each reference re-runs the whole
    # span-scrub pipeline — the same measured stage-reuse fix v2/v3
    # carry (r11 optimization: the before-plan held 14 scans)
    base = dedup._keepers(scrubbed, F.md5("clean_text")).localCheckpoint(
        eager=False
    )
    feats = base.select(
        "doc_id",
        F.size(text.tokens("clean_text")).cast("bigint").alias("n_tokens"),
        "n_tokens_dropped",
    )
    margins = text.nb_model_score(base, model, text_col="clean_text")
    gated = (
        feats.join(margins, "doc_id")
        .filter(F.col("nb_score_ppm") > 0)
    )
    return sampling._pack_under_budget(gated, "nb_score_ppm", budget_tokens)
