"""Text-analysis operators over the `documents` table (north-star surface).

Extends the reference's only text operator — the KeywordStats tokenizer UDTF
(function/SplitFunction.java:12-29, function/KeywordUtil.java:13-35) — into
the analysis kit a large-scale training-data pipeline needs: tokenization,
language ID, quality scoring, token statistics, and document fingerprinting.

Everything is built from JVM-side `pyspark.sql.functions` (no Python in the
hot path) and is expressible in ANSI SQL for the DuckDB oracle. All ratio
math casts to double *explicitly* so both engines perform the identical
IEEE operations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flinkproject_spark import functions as K

TOKEN_SPLIT_RE = r"\s+"

# Deterministic per-language marker lexicons (the n-gram-heuristic analog of
# a fastText language IDer). The synthetic corpus shares one vocabulary
# across langs, so accuracy is not the point — determinism and the
# argmax-over-scores plan shape are.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "order", "row", "data"),
    "de": ("agg", "merge", "scan", "sort", "hash"),
    "es": ("fast", "spark", "customer", "stream", "query"),
    "fr": ("group", "batch", "line", "vector", "column"),
    "zh": ("big", "dup", "filter", "value", "table"),
}


def tokens(col: Column | str = "text") -> Column:
    """Whitespace tokenizer (the SplitFunction analog; pluggable kernel)."""
    return F.split(F.col(col) if isinstance(col, str) else col, TOKEN_SPLIT_RE)


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles: transform over a sliding index sequence.

    Pure SQL expression (no UDF): for i in 0..len-n concat the n words.
    Returns an empty array for docs shorter than n tokens.
    """
    parts = ", ".join(f"x[i+{j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size(x) >= {n} THEN "
        f"transform(sequence(0, size(x)-{n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def with_tokens(documents: DataFrame) -> DataFrame:
    return documents.withColumn("x", tokens("text"))


# ---------------------------------------------------------------------------
# token statistics (token counting per BASELINE north star)
# ---------------------------------------------------------------------------
def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token counts + length features."""
    return with_tokens(documents).select(
        "doc_id",
        "lang",
        "source",
        F.size("x").alias("n_tokens"),
        F.size(F.array_distinct("x")).alias("n_unique"),
        F.col("n_chars").alias("n_chars"),
        (F.col("n_chars").cast("double") / F.size("x").cast("double")).alias("avg_token_len"),
    )


def corpus_token_summary(documents: DataFrame) -> DataFrame:
    """Corpus-level rollup by source: total/unique tokens, docs — the shape
    of a pre-training data audit."""
    t = token_stats(documents)
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_unique").alias("total_unique_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
STOPWORDS = ("the", "a", "of", "and", "to")


def quality_scores(documents: DataFrame) -> DataFrame:
    """Deterministic quality features + a composite score in [0, ~1].

    The standard cheap filters (Gopher/C4-style): document length, stopword
    ratio, vocabulary diversity. All double math is explicit-cast so the
    DuckDB oracle reproduces bit-identical values.
    """
    d = with_tokens(documents)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size("x").cast("double")
    stop_ct = F.size(F.expr(
        "filter(x, t -> t IN ({}))".format(", ".join(f"'{s}'" for s in STOPWORDS))
    )).cast("double")
    uniq = F.size(F.array_distinct("x")).cast("double")
    return d.select(
        "doc_id",
        "lang",
        F.size("x").alias("n_tokens"),
        (stop_ct / n_tok).alias("stopword_ratio"),
        (uniq / n_tok).alias("diversity"),
        (
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
            + (uniq / n_tok) * F.lit(0.5)
        ).alias("quality_score"),
    )


def quality_decile_report(documents: DataFrame, k: int = 10) -> DataFrame:
    """Corpus mix planning by QUALITY AXIS: bucket every doc into one of
    `k` equal-population quality bands and report each band's volume —
    the table a curation team reads before setting per-band sampling
    rates (the quality analog of `sampling.domain_mix_sample`'s
    source-axis mix).

    NOT an ntile: a global row ranking is a full sort of the corpus.
    Instead ONE aggregate computes the k-1 exact interior percentile
    boundaries of quality_score (same `percentile` == DuckDB
    quantile_cont bit-identical convention as order_value_percentiles; at
    100 TB swap approx_percentile — same shape, documented knob), then a
    broadcast of that 1-row boundary array assigns each doc its band:
    decile = 1 + count(boundaries < score) — an interpreted-path array
    fold, but over k-1 elements per row, not per-token work. Ties on
    a boundary fall to the lower band in both engines by the strict
    comparison. One agg + one broadcast + one groupBy — no sort anywhere.

    Returns (decile, n_docs, total_tokens, min_score, max_score,
    mean_score), scores rounded to 6 decimals for cross-engine hashing.
    """
    qs = [i / k for i in range(1, k)]
    scored = quality_scores(documents).select(
        "doc_id", "n_tokens", "quality_score"
    )
    bounds = scored.agg(
        F.percentile("quality_score", F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    dec = F.aggregate(
        "bs",
        F.lit(1),
        lambda acc, b: acc + F.when(F.col("quality_score") > b, 1).otherwise(0),
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            "n_tokens", "quality_score", dec.cast("bigint").alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.min("quality_score"), 6).alias("min_score"),
            F.round(F.max("quality_score"), 6).alias("max_score"),
            F.round(F.avg("quality_score"), 6).alias("mean_score"),
        )
    )


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Corpus-relative fluency score: per-doc mean unigram log-probability
    under the corpus' own empirical distribution — the KenLM-lite quality
    signal (docs dominated by rare tokens score low: OOD, noise, mangled
    encodings; docs of common tokens score high). Two passes:

    1. token frequencies: explode -> one groupBy(token) shuffle; the total
       count is a 1-row aggregate cross-joined back (metadata, not data).
    2. per-doc mean: token rows join the frequency table on token (at
       100 TB the vocab table is Zipf-small relative to the corpus and
       AQE-broadcastable; otherwise it's a plain shuffle join), then one
       groupBy(doc_id).

    Numeric contract: each token's round(ln(p), 6) is cast to
    DECIMAL(18, 6) BEFORE summing, so the per-doc sum is exact and
    order-independent — a raw double sum varies with Spark's partial-agg
    order and can never hash-match the oracle. The only double ops are
    per-row ln and the final division, identical cross-engine.

    Same up-front repartition as `bigram_logprob_scores`: the explode and
    the token-frequency join both run in the scan stage otherwise, at
    file-count parallelism (sf1: 8.0 s single-file vs ~3 s repartitioned).
    """
    n_parts = int(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    tok = with_tokens(documents.repartition(n_parts)).select(
        "doc_id", F.explode("x").alias("t")
    ).filter(F.col("t") != "")
    # freq feeds both the total and the per-token table: checkpoint the
    # Zipf-small aggregate (lazily) so the corpus explode behind it runs
    # ONCE, not once per reference
    freq = tok.groupBy("t").agg(F.count("*").alias("ct")).localCheckpoint(eager=False)
    total = freq.agg(F.sum("ct").cast("double").alias("total"))
    lp = freq.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("ct") / F.col("total")), 6)
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    return (
        tok.join(lp, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lp").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # exact integer-space mean (K.mean6): round(double/n, 6) splits
            # between engines on exact-half quotients (Spark rounds the
            # shortest decimal repr, DuckDB the binary value)
            K.mean6(F.col("s"), "n_tokens").alias("avg_logprob"),
        )
    )


def bigram_logprob_scores(documents: DataFrame, lam: float = 0.75) -> DataFrame:
    """Bigram-LM fluency: per-doc mean ln of the Jelinek-Mercer-interpolated
    bigram probability  lam * p(w2|w1) + (1-lam) * p(w2)  under the corpus'
    own counts — the next step up from unigram_logprob_scores (word-salad
    with common words scores high on unigrams but low here; real phrase
    structure scores high on both). Docs need >= 2 tokens to have a bigram;
    shorter docs are absent from the output (documented contract).

    p(w2|w1) = ct(w1 w2) / ct(w1 ·) with the left-context count taken over
    bigram starts (so final tokens don't inflate it); p(w2) is the plain
    unigram MLE. Self-scoring means no unseen bigrams; the interpolation
    still smooths sharp conditionals, and on a stream the same table-join
    shape backs off gracefully.

    Plan: THREE corpus-grain passes — the bigram explode into ct_b, the
    unigram explode, and the bigram join-back (the join-back needs bigram
    grain, so it cannot share the aggregate's pass); every derived table
    (ct_l, totals, lp) reads the CHECKPOINTED vocab-sized aggregates, so
    no corpus pass re-executes. All probability tables are Zipf-small and
    AQE-broadcastable. Same DECIMAL(18,6) contract as the unigram op:
    round(ln, 6) before the order-independent exact sum.

    The corpus is repartitioned to shuffle-partition parallelism BEFORE
    tokenization: the tokenize+explode work (50x row fan-out) otherwise
    runs inside the scan stage at file-count parallelism — a compact
    single-file corpus pins the heaviest CPU of the query to 1-2 tasks
    (measured 16.3 s at sf1's one-file layout vs 6.6 s repartitioned;
    sf3 47.9 s vs 13.0 s). The exchange moves only the narrow raw rows,
    all three corpus passes read the SAME materialized shuffle
    (ReusedExchange), and on a many-file production corpus it degrades
    into one cheap balanced redistribution.
    """
    n_parts = int(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    d = with_tokens(documents.repartition(n_parts))
    bg = d.select("doc_id", F.explode(word_ngrams(F.col("x"), 2)).alias("b"))
    bg = bg.withColumn("w1", F.split("b", " ")[0]).withColumn("w2", F.split("b", " ")[1])
    # the vocab-sized aggregates are checkpointed (lazily) so each corpus
    # explode behind them runs ONCE even though they feed multiple
    # downstream references (ct_l + lp; total + lp)
    ct_b = bg.groupBy("b").agg(
        F.first("w1").alias("w1"), F.first("w2").alias("w2"), F.count("*").alias("ct_b")
    ).localCheckpoint(eager=False)
    # left-context counts roll up from the bigram counts (vocab-sized input)
    # rather than a third corpus explode — one fewer full scan
    ct_l = ct_b.groupBy("w1").agg(F.sum("ct_b").alias("ct_l"))
    tok = d.select(F.explode("x").alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("ct_u")).localCheckpoint(eager=False)
    total = uni.agg(F.sum("ct_u").cast("double").alias("total"))
    lp = (
        ct_b.join(ct_l, "w1")
        .join(uni.withColumnRenamed("t", "w2"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "b",
            F.round(
                F.log(
                    F.lit(lam) * (F.col("ct_b") / F.col("ct_l"))
                    + F.lit(1.0 - lam) * (F.col("ct_u") / F.col("total"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return (
        bg.join(lp, "b")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_bigrams"), F.sum("lp").alias("s"))
        .select(
            "doc_id",
            "n_bigrams",
            K.mean6(F.col("s"), "n_bigrams").alias("avg_bigram_logprob"),
        )
    )


def gopher_quality_flags(
    documents: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
    passthrough: bool = False,
) -> DataFrame:
    """Gopher-style rule bundle (Rae et al. 2021 §A1.1 heuristics, the
    standard pre-training quality gate): each rule is a NAMED boolean
    column so a pipeline can audit *which* rule rejected a document, plus
    the conjunction as `keep`. Thresholds are parameters; the defaults
    are tuned down to this synthetic corpus' short docs.

    Rules: token count in [min,max]; mean word length in range; symbol
    (non-alphanumeric-char) ratio below cap; share of words containing an
    alphabetic char above floor; at least K distinct stopwords present.
    Everything is codegen'd array/string expressions — scan-speed, no
    Python, no shuffle — and each ratio casts to double explicitly so the
    DuckDB oracle reproduces identical values.
    """
    d = with_tokens(documents)
    n_tok = F.size("x").cast("double")
    # sum of word lengths = length of the tokens concatenated — stays in
    # whole-stage codegen, unlike an F.aggregate lambda (interpreted path)
    mean_wlen = F.length(F.concat_ws("", "x")).cast("double") / n_tok
    n_chars = F.length("text").cast("double")
    n_sym = n_chars - F.length(
        F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")
    ).cast("double")
    alpha_words = F.size(F.expr("filter(x, w -> w rlike '[A-Za-z]')")).cast("double")
    stop_ct = F.size(
        F.array_intersect(F.array_distinct("x"), F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    # passthrough=True keeps every input column alongside the flags so a
    # pipeline can CHAIN this as a filter (`.filter("keep")`) instead of
    # joining flag rows back to the corpus — a join whose both sides derive
    # from the same subplan, which Catalyst re-executes per side.
    base_cols = documents.columns if passthrough else ["doc_id"]
    flags = d.select(
        *base_cols,
        F.size("x").cast("bigint").alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(n_sym / n_chars, 6).alias("symbol_ratio"),
        F.round(alpha_words / n_tok, 6).alias("alpha_word_ratio"),
        stop_ct.cast("bigint").alias("distinct_stopwords"),
    )
    return flags.select(
        "*",
        (F.col("n_tokens").between(min_tokens, max_tokens)).alias("ok_length"),
        (F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)).alias(
            "ok_word_len"
        ),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("ok_symbols"),
        (F.col("alpha_word_ratio") >= min_alpha_word_ratio).alias("ok_alpha"),
        (F.col("distinct_stopwords") >= min_distinct_stopwords).alias("ok_stopwords"),
    ).select(
        "*",
        (
            F.col("ok_length")
            & F.col("ok_word_len")
            & F.col("ok_symbols")
            & F.col("ok_alpha")
            & F.col("ok_stopwords")
        ).alias("keep"),
    )


def repetition_scores(documents: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition filter features: the share of a document's
    word n-grams taken by its single most frequent n-gram (high = loops,
    boilerplate, keyword stuffing) plus the distinct-ngram diversity.

    All-integer counts divided with explicit double casts — exact across
    engines. Plan: explode n-grams -> two-level aggregate; both aggregates
    partial-aggregate map-side, shuffle keyed by doc_id (+gram) only.
    """
    d = with_tokens(documents)
    grams = d.select(
        "doc_id", F.explode(word_ngrams(F.col("x"), n)).alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("ct"))
    agg = per_gram.groupBy("doc_id").agg(
        F.max("ct").alias("top_ct"),
        F.sum("ct").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("top_ct").cast("bigint").alias("top_ct"),
        F.col("total").cast("bigint").alias("total_ngrams"),
        F.col("n_distinct").cast("bigint").alias("distinct_ngrams"),
        (F.col("top_ct").cast("double") / F.col("total").cast("double")
         ).alias("top_ngram_ratio"),
        (F.col("n_distinct").cast("double") / F.col("total").cast("double")
         ).alias("ngram_diversity"),
    )


# ---------------------------------------------------------------------------
# language identification (marker-lexicon heuristic)
# ---------------------------------------------------------------------------
def lang_id(documents: DataFrame) -> DataFrame:
    """Predict language by marker-word counts, argmax with fixed priority.

    Scores are exact integers (no float ambiguity); ties resolve in the
    declared LANG_MARKERS order, making the operator engine-portable.
    """
    d = with_tokens(documents)
    score_cols = []
    for lg, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(F.size(F.expr(f"filter(x, t -> t IN ({inlist}))")).alias(f"s_{lg}"))
    scored = d.select("doc_id", "lang", *score_cols)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = None
    for lg in reversed(langs):
        cond = F.col(f"s_{lg}") == best
        pred = F.when(cond, F.lit(lg)) if pred is None else F.when(cond, F.lit(lg)).otherwise(pred)
    # reversed+otherwise chain => earliest lang in LANG_MARKERS wins ties
    return scored.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------
def fingerprints(documents: DataFrame) -> DataFrame:
    """Canonical content fingerprint: md5 over the sorted distinct token set.

    The bag-of-words canonicalization used before exact-dup clustering; a
    rolling/content-defined variant lives in dedup.minhash_signatures.
    """
    d = with_tokens(documents)
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct("x")))).alias("fingerprint"),
        F.size("x").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# A19/D — the UDTF registration surface (SplitFunction.java:12-29)
# ---------------------------------------------------------------------------
def register_split_words(spark, segmenter: str = "whitespace") -> None:
    """Register `split_words` as a Python UDTF usable with LATERAL — the
    direct analog of the reference's `createTemporarySystemFunction` +
    `LATERAL TABLE(split_words(fullword))` (KeywordStatsApp.java:55-61).

    Like the reference's UDTF (which falls back to emitting the raw string
    when the segmenter errors — SplitFunction.java:21-27), empty/null input
    yields nothing rather than failing.

    segmenter="whitespace" (default) splits on single spaces — the
    deterministic oracle tier for the synthetic ASCII corpus.

    segmenter="dictionary" is the DEFAULT-AVAILABLE CJK path matching the
    reference's IK analyzer (utils/KeywordUtil.java:13-35: dictionary
    segmentation, multiple lexemes per phrase): bidirectional maximum
    matching over operators.cjk's lexicon — dependency-free, so a
    Chinese-log user gets dictionary segmentation out of the box exactly
    as the reference does. Mixed-script text works (non-CJK runs split on
    whitespace); extend coverage by passing a bigger `lexicon`.

    segmenter="jieba" is the optional better-dictionary tier (the sandbox
    cannot vendor it — no network, not preinstalled — so it stays
    dependency-gated). jieba is imported lazily INSIDE eval so the import
    happens on the executor, once per worker process, and a missing/broken
    segmenter degrades to emitting the raw string as one token — the exact
    fallback KeywordUtil.java:30-33 implements (catch IOException -> add
    whole text). Raises ImportError at *registration* time when jieba is
    absent on the driver, so callers discover misconfiguration eagerly,
    not per-row.

    Production note: the explode(split(...)) form in keyword_stats is the
    JVM-side fast path; this UDTF exists for the *extensibility* surface —
    a real segmenter drops into `eval` without touching the query.

    Arrow-optimized UDTF execution (Spark 4 `useArrow=True`) was
    MEASURED, not assumed (VERDICT r05 #4) — and rejected: on a 100k-doc
    / 5.4M-output-row LATERAL in this Spark 4.1.2 build the Arrow path
    ran 2.2x SLOWER than the pickled path (11.3-12.6s vs 5.1-6.1s, warm,
    A/B in one session; sf0.1 driver queries echoed it at ~2x). The
    transport win Pandas UDFs get does not materialize for generator
    `eval`s, whose per-call yields defeat batch amortization. Both
    registrations therefore pin `useArrow=False` explicitly; re-measure
    before flipping on a future Spark.
    """
    from pyspark.sql.functions import udtf

    if segmenter not in ("whitespace", "dictionary", "jieba"):
        raise ValueError(f"unknown segmenter {segmenter!r}")
    if segmenter == "dictionary":

        @udtf(returnType="word string, pos int", useArrow=False)
        class SplitWordsDict:
            def eval(self, text: str):
                if not text:
                    return
                from flinkproject_spark.operators.cjk import segment

                for i, w in enumerate(segment(text)):
                    yield (w, i)

        spark.udtf.register("split_words", SplitWordsDict)
        return
    if segmenter == "jieba":
        import jieba  # noqa: F401 — eager driver-side availability check

        @udtf(returnType="word string, pos int", useArrow=False)
        class SplitWordsJieba:
            def eval(self, text: str):
                if not text:
                    return
                try:
                    import jieba

                    words = [w for w in jieba.cut(text, cut_all=False) if w.strip()]
                except Exception:
                    words = [text]  # KeywordUtil.java:30-33 fallback
                for i, w in enumerate(words):
                    yield (w, i)

        spark.udtf.register("split_words", SplitWordsJieba)
        return

    @udtf(returnType="word string, pos int", useArrow=False)
    class SplitWords:
        def eval(self, text: str):
            if text:
                for i, w in enumerate(text.split(" ")):
                    if w:
                        yield (w, i)

    spark.udtf.register("split_words", SplitWords)


def register_split_subwords(spark, width: int = 3) -> None:
    """Register `split_subwords`: a UDTF with REAL 1->N fan-out per word —
    the segmentation analog of the reference's IK analyzer, which emits
    MULTIPLE tokens per input phrase (utils/KeywordUtil.java:13-35 loops the
    Lexeme iterator; function/SplitFunction.java:12-29 collect()s each).

    The corpus here is plain lowercase ASCII, so the deterministic stand-in
    for dictionary segmentation is fixed-width character chunking: each
    whitespace word yields ceil(len/width) pieces ("customer" -> cus, tom,
    er). One input word -> several output rows through LATERAL — the
    expansion path a UDTF exists for, exercised for real (unlike the 1->1
    `split_words`). Engine-portable: the oracle reproduces it with
    substring + generate_series. Pickled (non-Arrow) transport pinned —
    measured 2.2x faster than Arrow for generator evals; see
    `register_split_words` (VERDICT r05 #4).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, piece string, wpos int, ppos int", useArrow=False)
    class SplitSubwords:
        def eval(self, text: str):
            if text:
                for i, w in enumerate(text.split(" ")):
                    for j in range(0, len(w), width):
                        yield (w, w[j : j + width], i, j // width)

    spark.udtf.register("split_subwords", SplitSubwords)


# ---------------------------------------------------------------------------
# BPE-ish token counting (north star: whitespace + a BPE-ish regex)
# ---------------------------------------------------------------------------
# GPT-2-style pretokenizer, ASCII-restricted so the Java (Spark) and RE2
# (DuckDB oracle) regex engines agree: runs of letters, runs of digits, runs
# of other non-space symbols — each optionally preceded by one space.
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """Approximate LLM-token counts per document via the BPE-style
    pretokenizer regex — the standard cheap stand-in for a real tokenizer
    when budgeting a pre-training corpus (whitespace tokens undercount
    punctuation-heavy text). Pure JVM regexp, no Python."""
    pieces = F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")
    return documents.select(
        "doc_id",
        "lang",
        F.size(pieces).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_ws_tokens"),
        (F.size(pieces).cast("double") / F.size(F.split("text", r"\s+")).cast("double")
         ).alias("bpe_per_word"),
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of the character distribution per document — the
    cheap statistical quality filter that catches mojibake, base64 blobs,
    and repeated-character padding (very low or very high entropy).

    Algebraic form log2(n) - sum(ct*log2(ct))/n avoids a second pass for
    the total: two chained aggregates, both partial-aggregating, keyed by
    doc_id(+char). Cross-engine: identical regexp char extraction and the
    same double ops; entropy rounded to 6 decimals to absorb libm ulps.
    """
    chars = documents.select(
        "doc_id", F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("c")
    )
    per = chars.groupBy("doc_id", "c").agg(F.count("*").alias("ct"))
    agg = per.groupBy("doc_id").agg(
        F.sum("ct").alias("n"),
        F.count("*").alias("distinct_chars"),
        F.sum(F.col("ct").cast("double") * F.log2(F.col("ct").cast("double"))).alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars_counted"),
        F.col("distinct_chars").cast("bigint").alias("distinct_chars"),
        F.round(
            F.log2(F.col("n").cast("double")) - F.col("s") / F.col("n").cast("double"), 6
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# PII redaction (north-star: training corpora must be scrubbed before use)
# ---------------------------------------------------------------------------
# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB) evaluate
# identically: explicit char classes, bounded quantifiers, \b anchors — no
# lookarounds/backrefs (RE2 has neither). Order is load-bearing: EMAIL first
# (addresses contain dots and digits the later patterns would chew on).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("PHONE", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"),
    ("IPV4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def seed_pii(documents: DataFrame) -> DataFrame:
    """Deterministically inject synthetic PII so redaction is exercised for
    real on the PII-free synthetic corpus (and exactly reproducible in the
    oracle): every 3rd doc gains an email, every 5th a phone, every 7th an
    ip + ssn. Test/bench bridge only — production feeds raw text."""
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(t, F.lit(" contact u"), F.col("doc_id"), F.lit("@example.com")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 5 == 0, F.concat(t, F.lit(" call 555-123-4567"))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit(" ip 10.0.0.1 ssn 123-45-6789")),
    ).otherwise(t)
    return documents.withColumn("text", t)


def redact_pii(documents: DataFrame, passthrough: bool = False) -> DataFrame:
    """Scrub PII spans to <CLASS> placeholder tokens, reporting per-doc
    match counts per class — the audit trail a compliance pass needs.

    All-JVM row path: a chain of regexp_count + regexp_replace inside one
    projection (single codegen stage, zero shuffles, zero Python) — at
    100 TB this runs at scan speed and the only cost is the regex engine.
    Per-class counts are taken on the ORIGINAL text. The digit classes
    can't overlap each other (3-2-4 vs 3-3-4 digit groups, 4-octet anchor
    for IPv4), but a digit group embedded in an email local part (e.g.
    '555-123-4567@x.com' — '@' is a word boundary) counts as BOTH n_email
    and n_phone, so n_pii can exceed the number of spans actually replaced;
    replacement chains in PII_PATTERNS order, EMAIL first, so such a span
    is replaced exactly once (as <EMAIL>) and no later pattern sees a
    partially-replaced span.
    """
    counts = [
        F.regexp_count("text", F.lit(pat)).cast("bigint").alias(f"n_{name.lower()}")
        for name, pat in PII_PATTERNS
    ]
    red = F.col("text")
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{name}>")
    # passthrough=True carries every input column so a pipeline can swap
    # `redacted` in for `text` without joining doc metadata back (a
    # self-join that re-executes the scan+regex subplan per side).
    base_cols = documents.columns if passthrough else ["doc_id"]
    return documents.select(
        *base_cols,
        *counts,
        sum(
            (F.regexp_count("text", F.lit(p)).cast("bigint") for _, p in PII_PATTERNS),
            F.lit(0).cast("bigint"),
        ).alias("n_pii"),
        red.alias("redacted"),
    )


def corpus_cube(documents: DataFrame) -> DataFrame:
    """Corpus audit over ALL (lang x source) slices at once: CUBE grouping
    emits per-pair, per-lang, per-source, and grand-total rows in ONE
    aggregate pass (one shuffle; each input row expands into its 4
    grouping sets map-side, then partial-aggregates). NULL grouping keys
    are surfaced as 'ALL' so every engine and the driver hash agree on
    the marginals' identity.
    """
    d = with_tokens(documents)
    per_doc = d.select(
        "lang", "source", F.size("x").cast("bigint").alias("n_tokens")
    )
    agg = per_doc.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return agg.select(
        F.coalesce("lang", F.lit("ALL")).alias("lang"),
        F.coalesce("source", F.lit("ALL")).alias("source"),
        "n_docs",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
    )


def corpus_profile(documents: DataFrame, passthrough: bool = False) -> DataFrame:
    """The FUSED one-pass per-document audit: everything token_stats,
    quality_scores, gopher_quality_flags, lang_id, and fingerprints compute
    per document, in ONE projection — one scan, ZERO shuffles, fully
    whole-stage-codegen.

    Why it exists: a corpus audit that runs the five standalone operators
    scans the 100 TB corpus five times; every one of their outputs is a
    narrow per-row function of the same token array, so the single fused
    scan is the plan a profiler should ship. The standalone operators stay
    the composable/oracle-granular forms; per-column equality with each of
    them is pinned by test (the fusion can never drift from its parts).

    passthrough=True keeps every input column (text included) alongside
    the profile columns so a pipeline can CHAIN this as its gate
    (`.filter("gopher_keep")`) without re-deriving any expression — the
    v3 corpus build's first stage.
    """
    d = with_tokens(documents)
    n_tok = F.size("x").cast("double")
    uniq = F.size(F.array_distinct("x")).cast("double")
    stop_ct = F.size(F.expr(
        "filter(x, t -> t IN ({}))".format(", ".join(f"'{s}'" for s in STOPWORDS))
    )).cast("double")
    mean_wlen = F.length(F.concat_ws("", "x")).cast("double") / n_tok
    n_chars_d = F.length("text").cast("double")
    n_sym = n_chars_d - F.length(
        F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")
    ).cast("double")
    alpha_words = F.size(F.expr("filter(x, w -> w rlike '[A-Za-z]')")).cast("double")
    distinct_stop = F.size(
        F.array_intersect(F.array_distinct("x"), F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    langs = list(LANG_MARKERS)
    scores = {
        lg: F.size(F.expr(
            "filter(x, t -> t IN ({}))".format(", ".join(f"'{m}'" for m in ms))
        ))
        for lg, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = None
    for lg in reversed(langs):
        cond = scores[lg] == best
        pred = F.when(cond, F.lit(lg)) if pred is None else F.when(cond, F.lit(lg)).otherwise(pred)
    n_tokens_b = F.size("x").cast("bigint")
    mean_wlen_r = F.round(mean_wlen, 6)
    symbol_r = F.round(n_sym / n_chars_d, 6)
    alpha_r = F.round(alpha_words / n_tok, 6)
    base_cols = documents.columns if passthrough else ["doc_id", "lang", "source"]
    return d.select(
        *base_cols,
        n_tokens_b.alias("n_tokens"),
        uniq.cast("bigint").alias("n_unique"),
        (F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        (stop_ct / n_tok).alias("stopword_ratio"),
        (uniq / n_tok).alias("diversity"),
        (
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
            + (uniq / n_tok) * F.lit(0.5)
        ).alias("quality_score"),
        mean_wlen_r.alias("mean_word_len"),
        symbol_r.alias("symbol_ratio"),
        (
            n_tokens_b.between(10, 100_000)
            & mean_wlen_r.between(2.0, 12.0)
            & (symbol_r <= 0.1)
            & (alpha_r >= 0.8)
            & (distinct_stop >= 2)
        ).alias("gopher_keep"),
        pred.alias("predicted_lang"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct("x")))).alias(
            "fingerprint"
        ),
    )


def dsir_importance(documents: DataFrame, target_lang: str = "en") -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every document by how target-like its unigram distribution is —
    log p_target(doc)/p_raw(doc), the importance weight data-selection
    resamples by. Target here = the `target_lang` slice of the corpus
    itself, raw = the rest (production passes any curated target set; the
    estimator shape is identical).

    Both unigram LMs use add-1 smoothing over the SHARED corpus vocabulary
    (V = distinct tokens anywhere), so every token has non-zero mass under
    both and the log-ratio is total. Per-doc weight = mean over tokens of
    ln(p_t(w)/p_r(w)).

    Plan: TWO corpus-grain passes — one explode into the (checkpointed,
    Zipf-small) vocab counts, one for the per-doc join-back + groupBy
    (different grain, so it cannot share the aggregate's pass); the
    target/raw totals read the checkpointed vocab, never the corpus. At
    100 TB the vocab table is AQE-broadcastable; nothing shuffles more
    than once per pass. Numeric contract as unigram_logprob_scores: per-token
    round(ln-ratio, 6) cast to DECIMAL(18,6) before summing, so the sum is
    exact and order-independent; only per-row ln and the final division are
    double.
    """
    return score_against_vocab(documents, dsir_vocab(documents, target_lang))


def dsir_vocab(documents: DataFrame, target_lang: str = "en") -> DataFrame:
    """The train-once half of DSIR: per-token smoothed log-ratio table
    (t, lr) — tiny (Zipf vocab), persisted in production and replayed
    against every ingest batch by the streaming sink."""
    tok = (
        with_tokens(documents)
        .select((F.col("lang") == target_lang).alias("is_t"), F.explode("x").alias("t"))
        .filter(F.col("t") != "")
    )
    vocab = tok.groupBy("t").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("ct_r"),
    ).localCheckpoint(eager=False)  # totals + lr both read it: explode runs once
    totals = vocab.agg(
        F.sum("ct_t").cast("double").alias("tot_t"),
        F.sum("ct_r").cast("double").alias("tot_r"),
        F.count("*").cast("double").alias("v"),
    )
    return vocab.crossJoin(F.broadcast(totals)).select(
        "t",
        F.round(
            F.log((F.col("ct_t") + 1) / (F.col("tot_t") + F.col("v")))
            - F.log((F.col("ct_r") + 1) / (F.col("tot_r") + F.col("v"))),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lr"),
    )


def score_against_vocab(documents: DataFrame, vocab_lr: DataFrame) -> DataFrame:
    """The apply half of DSIR: mean log-ratio per document under a
    (possibly persisted) vocab table. Tokens ABSENT from the vocab score a
    neutral 0 log-ratio (both smoothed LMs assign an OOV the same
    1/(tot+V)-class mass, so the ratio is ~1) — the property that makes
    the streaming sink's train-once/score-forever split sound. On the
    training corpus itself every token is in-vocab, so this reduces
    exactly to the one-pass form the oracle checks."""
    tok = (
        with_tokens(documents)
        .select("doc_id", F.explode("x").alias("t"))
        .filter(F.col("t") != "")
    )
    return (
        tok.join(vocab_lr, "t", "left")
        .withColumn("lr", F.coalesce("lr", F.lit(0).cast("decimal(18,6)")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tokens"), F.sum("lr").alias("s"))
        .select(
            "doc_id",
            "n_tokens",
            K.mean6(F.col("s"), "n_tokens").alias("log_importance"),
        )
    )


NB_PRIOR_TOKEN = ""  # real tokens are filtered != '', so '' is free
# Fit-arithmetic version for persisted-model caches — bump whenever
# nb_quality_fit changes its OUTPUT for the same corpus (smoothing, label
# source, rounding); same contract as similarity.KMEANS_FIT_VERSION.
NB_FIT_VERSION = 1


def nb_quality_fit(
    documents: DataFrame, labels: DataFrame | None = None
) -> DataFrame:
    """TRAINED quality classifier, fit half (VERDICT r10 task 4): Naive
    Bayes token log-odds distilled from the Gopher rule gate as weak
    supervision — the standard bootstrap when no hand-labeled quality set
    exists (train a cheap generalizing model on heuristic labels, serve
    the MODEL; cf. the fastText quality classifiers of GPT-3/CCNet-style
    pipelines, Brown et al. 2020 §A). The hand-weighted heuristic
    (quality_scores) stays as the label source; this turns its verdicts
    into token-level knowledge a sink can apply to any batch.

    Model = one row per vocabulary token: positive/negative occurrence
    counts and the add-1-smoothed log-likelihood ratio
    lr = ln((ct_pos+1)/(tot_pos+V)) - ln((ct_neg+1)/(tot_neg+V)),
    rounded to 6 dp and cast DECIMAL(18,6) — the proven DSIR cross-engine
    contract (dsir_vocab) — plus ONE prior row under NB_PRIOR_TOKEN ('',
    impossible as a real token) carrying the class counts and
    lr = round(ln(n_pos/n_neg), 6). Consumers convert to int64 ppm
    (lr * 1e6 is exact in DECIMAL) so per-doc scoring is pure integer
    sums — order-free, the kmeans_fit discipline. The fit is ONE
    aggregation pass (no iterations), so the oracle replays it directly:
    gates -> labels -> vocab counts -> smoothed ratios, bit-for-bit.

    Misuse guard: a single-class corpus (every doc passes or every doc
    fails the gate) cannot train a discriminator — ln(n_pos/n_neg)
    degenerates — so it raises loudly instead of emitting a model of
    NULLs (the whiten_embeddings discipline). The guard is IN-PLAN:
    raise_error rides every column of the prior row and of every vocab
    row, so neither column pruning nor a filter that drops the prior row
    removes it. It fires when the model executes, before any row is
    emitted — the r11 form paid an eager .first() job at
    plan-construction time for the same check, which put a full corpus
    gate pass in front of every consumer's real work.

    Plan shape: one explode -> (token, label) groupBy (the only
    corpus-scale shuffle, map-side combined), totals read the
    checkpointed Zipf-small vocab, never the corpus. The model table is
    vocabulary-sized — persist it with write.parquet and serve forever
    (the `_kmeans_model` cache shape).

    `labels` lets a caller that already computed the gate share the pass
    (a (doc_id, keep) frame, e.g. nb_quality_scores' inline-refit path);
    None runs gopher_quality_flags itself.

    Reference parity: no trainer in the reference; north-star surface
    for the LLM-pipeline extension (SURVEY §2 text-analysis tier).
    """
    if labels is not None:
        lab = labels.select("doc_id", "keep")
    else:
        # the prior aggregate and the token join BOTH read lab; without
        # the checkpoint each re-runs the full corpus gate (r11 review)
        lab = (
            gopher_quality_flags(documents)
            .select("doc_id", "keep")
            .localCheckpoint(eager=False)
        )
    pri = lab.agg(
        F.coalesce(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint"), F.lit(0)
        ).alias("np"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint"), F.lit(0)
        ).alias("nn"),
    )
    bad = (F.col("np") == 0) | (F.col("nn") == 0)
    err = F.raise_error(
        F.format_string(
            "nb_quality_fit: single-class corpus (pos=%s, neg=%s) — the "
            "gate labels carry no signal to distill; loosen/tighten the "
            "gopher thresholds or supply labeled data",
            F.col("np"),
            F.col("nn"),
        )
    )

    def _guard(col):
        # rides EVERY model column so column pruning can't drop the check
        return F.when(bad, err).otherwise(col)

    tok = (
        with_tokens(documents)
        .select("doc_id", F.explode("x").alias("t"))
        .filter(F.col("t") != "")
        .join(lab, "doc_id")
    )
    vocab = tok.groupBy("t").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("ct_pos"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("ct_neg"),
    ).localCheckpoint(eager=False)  # totals + ratios both read it
    totals = vocab.agg(
        F.sum("ct_pos").cast("double").alias("tp"),
        F.sum("ct_neg").cast("double").alias("tn"),
        F.count("*").cast("double").alias("v"),
    )
    lr = F.round(
        F.log((F.col("ct_pos") + 1) / (F.col("tp") + F.col("v")))
        - F.log((F.col("ct_neg") + 1) / (F.col("tn") + F.col("v"))),
        6,
    ).cast("decimal(18,6)")
    # the guard rides the vocab rows too (the one-row prior aggregate is
    # broadcast to them): a consumer that filters token != NB_PRIOR_TOKEN
    # lets PruneFilters drop the prior branch of the union below
    model = (
        vocab.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(pri))
        .select(
            _guard(F.col("t")).alias("token"),
            _guard(F.col("ct_pos")).alias("ct_pos"),
            _guard(F.col("ct_neg")).alias("ct_neg"),
            _guard(lr).alias("lr"),
        )
    )
    prior = pri.select(
        F.lit(NB_PRIOR_TOKEN).alias("token"),
        _guard(F.col("np")).cast("bigint").alias("ct_pos"),
        _guard(F.col("nn")).cast("bigint").alias("ct_neg"),
        _guard(F.round(F.log(F.col("np") / F.col("nn")), 6))
        .cast("decimal(18,6)")
        .alias("lr"),
    )
    return model.unionByName(prior)


def nb_model_score(
    df: DataFrame, model: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Apply half of the NB classifier with NO label machinery: per-doc
    log-odds score of `text_col` under a (persisted) nb_quality_fit model
    — prior + bigint sum of per-occurrence lr_ppm (each DECIMAL lr * 1e6
    is exact; the sum is pure int64, order-free). OOV tokens score 0 (the
    score_against_vocab argument), so the model applies soundly to text
    it never saw — new batches, or the SCRUBBED text of a cleaning
    pipeline. Returns (doc_id, nb_score_ppm).

    Duplicate doc_ids are not kept apart: the per-doc aggregate groups by
    doc_id, so rows sharing one doc_id come back as ONE row whose score
    sums all their tokens' lr_ppm plus a single prior.

    BROADCAST CONTRACT (ADVICE r11): `model` is unconditionally
    F.broadcast()-hinted — it must be a VOCABULARY-sized table
    (Zipf-small: the nb_quality_fit output, typically well under the
    8 GB broadcast cap). Handing in an open-vocabulary model of
    collection scale will OOM the driver/executors where an unhinted
    plan would have degraded to a shuffle join; strip the hint (join
    without this helper) for that shape."""
    lr_ppm = (F.col("lr") * 1000000).cast("bigint")
    m = model.select("token", lr_ppm.alias("lr_ppm"))
    prior = m.filter(F.col("token") == NB_PRIOR_TOKEN).select(
        F.col("lr_ppm").alias("prior_ppm")
    )
    vocab = m.filter(F.col("token") != NB_PRIOR_TOKEN)
    # explode_OUTER and no empty-token filter (r12): every document —
    # including one with no scoreable token — emits at least one row
    # ('' or NULL, which never matches the vocab and scores the sound 0),
    # so the per-doc aggregate is COMPLETE by construction and the old
    # df.select('doc_id') completeness join is gone: that join re-scanned
    # the corpus and sort-merge-shuffled BOTH sides on doc_id just to
    # re-attach docs the explode had dropped (guide §2.4). Assumes df is
    # keyed by doc_id (the module-wide documents contract).
    tok = df.select("doc_id", F.explode_outer(tokens(text_col)).alias("token"))
    per_doc = (
        # explicit broadcast: the model is vocabulary-sized (Zipf-small)
        # by contract, but it arrives as a checkpointed RDD or an
        # aggregate subplan whose size ESTIMATE blocks the automatic
        # broadcast — without the hint the corpus token stream is
        # shuffled into a sort-merge join against a k-token table
        # (r11 optimization: 1 corpus exchange + 2 sorts removed)
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("lr_ppm", F.lit(0))).cast("bigint").alias("s"))
    )
    return per_doc.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        (F.col("s") + F.col("prior_ppm")).cast("bigint").alias("nb_score_ppm"),
    )


def nb_quality_scores(
    documents: DataFrame, model: DataFrame | None = None
) -> DataFrame:
    """TRAINED quality classifier, serve half: per-document NB log-odds
    score under a (possibly persisted) model table from
    :func:`nb_quality_fit` — prior + sum over token OCCURRENCES of the
    token's log-likelihood ratio, computed in int64 ppm (each DECIMAL
    lr * 1e6 is an exact integer; the per-doc sum is a pure bigint
    aggregation, order-free across engines and executors). `model=None`
    refits inline (the self-contained oracle form); production passes
    the persisted table — scoring then costs one broadcast-joinable
    vocab lookup + one groupBy per batch, zero training.

    Output (doc_id, nb_score_ppm, nb_keep, label): nb_keep is the
    classifier's verdict (score > 0), label the doc's own weak label —
    kept side-by-side so the standing agreement between classifier and
    teacher gate is itself oracle-audited, not asserted. OOV tokens
    score 0 (both smoothed LMs give an unseen token the same
    1/(tot+V)-class mass — the score_against_vocab argument), which is
    what makes the persisted model sound on NEW batches."""
    lab_keep = gopher_quality_flags(documents).select("doc_id", "keep")
    if model is None:
        # ONE gate pass shared between the fit's labels and the output
        # label column — the inline-refit path otherwise tokenizes and
        # gates the corpus twice in subplans Catalyst cannot dedupe
        # (r11 review)
        lab_keep = lab_keep.localCheckpoint(eager=False)
        model = nb_quality_fit(documents, labels=lab_keep)
    lab = lab_keep.select("doc_id", F.col("keep").alias("label"))
    scored = nb_model_score(documents, model)
    return lab.join(scored, "doc_id").select(
        "doc_id",
        "nb_score_ppm",
        (F.col("nb_score_ppm") > 0).alias("nb_keep"),
        "label",
    )


def corpus_zipf(documents: DataFrame, k: int = 50) -> DataFrame:
    """Vocabulary frequency audit: the top-k tokens with rank, corpus
    share, and cumulative share — the Zipf-curve head a data audit eyeballs
    for tokenizer sanity (one token dominating = boilerplate; a flat head =
    shredded encodings).

    The explode + groupBy(token) is the only data-scale shuffle. The
    rank window is UNPARTITIONED by construction — but it runs over the
    aggregated VOCABULARY (Zipf-small, ~sqrt of corpus tokens), after a
    top-k pre-cut, never over corpus rows; the driver-side ordering of
    <=k rows is the same cost every serving top-N here pays (A17).
    """
    tok = (
        with_tokens(documents)
        .select(F.explode("x").alias("t"))
        .filter(F.col("t") != "")
    )
    freq = (
        tok.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("ct"))
        .localCheckpoint(eager=False)  # total + rank both read it
    )
    total = freq.agg(F.sum("ct").cast("double").alias("total"))
    w = Window.orderBy(F.desc("ct"), F.asc("t"))
    ranked = (
        freq.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("t").alias("token"),
        "ct",
        F.round(F.col("ct") / F.col("total"), 6).alias("share"),
        F.round(F.sum(F.col("ct")).over(cum) / F.col("total"), 6).alias("cum_share"),
    )


def _tfidf_topk(docs: DataFrame, group_col: str, k: int) -> DataFrame:
    """Shared tf-idf engine for the per-group distinctive-vocabulary
    reports (tfidf_terms groups by source, cluster_topics by trained
    cell): tf within the group, df over distinct doc-token pairs
    CORPUS-wide, idf = ln(N_docs / df), ranking key ln-round-6 with
    token tiebreak. One convention, one implementation — the oracle
    twins replay this exact arithmetic for both consumers.

    `docs` must carry (doc_id, group_col, text).

    Plan: ONE tokenize+explode pass feeds a (doc_id, group, token)
    occurrence-count aggregate that is materialized (lazy checkpoint) and
    then serves BOTH grains — tf = sum of per-doc counts within the
    group, df = number of per-doc rows per token. The r10 form ran the
    explode twice (tf pass, then a distinct doc-token pass for df),
    re-executing the whole upstream subplan per aggregate — for
    cluster_topics that subplan includes the corpus-wide trained
    assignment (r11 optimization: 2 corpus token passes -> 1, and the
    per-doc vocab intermediate is Zipf-much-smaller than the token
    stream it replaces)."""
    tok = (
        docs.withColumn("x", tokens("text"))
        .select("doc_id", group_col, F.explode("x").alias("t"))
        .filter(F.col("t") != "")
    )
    per_doc = (
        tok.groupBy("doc_id", group_col, "t")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=False)  # tf + df both read it
    )
    tf = per_doc.groupBy(group_col, "t").agg(
        F.sum("ct").cast("bigint").alias("tf")
    )
    df_ = per_doc.groupBy("t").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            group_col,
            "t",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy(group_col).orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .select(
            group_col,
            F.col("t").alias("token"),
            "tf",
            "df",
            "tfidf",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def tfidf_terms(documents: DataFrame, k: int = 10) -> DataFrame:
    """Distinctive vocabulary per source: top-k tokens by tf-idf, the
    classic what-makes-this-domain-different audit (and the feature the
    DSIR hashed-n-gram estimator generalizes).

    tf = token occurrences within the source; df = number of DOCUMENTS
    containing the token anywhere; idf = ln(N_docs / df) (df >= 1 by
    construction, no smoothing needed). Ranking key rounds to 6 dp with
    token tiebreak so the frontier is engine-identical.

    Plan: two corpus-grain token passes — (source, token) tf counts, and
    per-token df via a distinct doc-token pass (a different grouping
    grain, so the explode genuinely runs per aggregate); N_docs rides
    along as a 1-row broadcast. The top-k window partitions by source
    over the SOURCE-VOCAB aggregate (Zipf-small), never over corpus rows.
    """
    return _tfidf_topk(
        documents.select("doc_id", "source", "text"), "source", k
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 40, overlap: int = 10
) -> DataFrame:
    """Sliding-window document chunking — the tokenize-and-split step that
    turns raw documents into training-example candidates: chunks of
    `chunk_tokens` tokens starting every `stride = chunk_tokens - overlap`
    tokens; the final chunk may be short. n_chunks =
    max(1, ceil((n - overlap) / stride)) so every token is covered and
    every chunk past the first shares `overlap` tokens with its
    predecessor.

    Pure JVM: one explode over a transform(sequence(...)) of start
    offsets, slice + concat_ws for the chunk text — narrow (no shuffle),
    scales linearly with corpus size.
    """
    stride = chunk_tokens - overlap
    assert stride > 0, "chunk_tokens must exceed overlap"
    d = with_tokens(documents).withColumn("n", F.size("x"))
    starts = (
        f"transform(sequence(0, int(greatest((greatest(n - {overlap}, 1) "
        f"+ {stride} - 1) div {stride}, 1)) - 1), i -> i * {stride})"
    )
    out = (
        d.select(
            "doc_id",
            "lang",
            "n",
            F.posexplode(F.expr(starts)).alias("chunk_id", "start"),
            F.col("x"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("x"), F.col("start") + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.col("n") - F.col("start"), F.lit(chunk_tokens))
            .cast("bigint")
            .alias("chunk_len"),
        )
    )
    return out


def cluster_topics(
    documents: DataFrame, embeddings: DataFrame, k: int = 10
) -> DataFrame:
    """Distinctive vocabulary per TRAINED cell — the corpus-cartography
    report every large-scale curation pipeline runs after clustering
    (what IS each cluster about?): kmeans_assign labels every document
    through the aligned doc_id = vec_id key space, then per-cell top-k
    tokens by tf-idf with the corpus-wide df (so a cell's topics are the
    tokens that distinguish it from the WHOLE corpus, not merely its
    frequent words). The fourth quantizer consumer, next to the
    trained IVF/SemDeDup/near-dup tiers.

    Same arithmetic conventions as tfidf_terms (ln-round-6 ranking key,
    token tiebreak, df over distinct doc-token pairs), so the whole
    composition — the Lloyd fit INCLUDED — is replayed by the oracle's
    unrolled CTEs. Plan: two corpus-grain token passes (cell-tf, df)
    plus the assignment's mapInPandas argmin; the top-k window runs over
    the cell-vocab aggregate (Zipf-small), never corpus rows.

    Reference parity: the reference's KeywordStatsApp serves per-keyword
    stats without any clustering tier; this composition is north-star
    extension surface (tf-idf per Sparck Jones 1972)."""
    from flinkproject_spark.operators.similarity import kmeans_assign

    asg = kmeans_assign(embeddings).select("vec_id", "cid")
    # materialize the labeled corpus once (lazy): _tfidf_topk reads its
    # input twice (token aggregate + n_docs), and without this each read
    # re-runs the full corpus-wide assignment pass (r11 optimization —
    # the before-plan carried THREE assign kernels and six scans)
    docs = (
        documents.join(asg, documents.doc_id == asg.vec_id)
        .select("doc_id", "cid", "text")
        .localCheckpoint(eager=False)
    )
    return _tfidf_topk(docs, "cid", k)
