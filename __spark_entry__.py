"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (ProvinceStats recast) at sf0.001.
`queries()` exposes one callable per implemented SURVEY.md §2 operator plus
the north-star extension operators; `oracle_sql()` gives each one's DuckDB
twin. Cross-engine conventions (see flinkproject_spark.functions):

- money sums: CAST to DECIMAL(18,2) *before* SUM (exact, order-insensitive),
  surfaced as DOUBLE — bit-identical across engines;
- event timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings in outputs
  (events.parquet stores TIMESTAMP(MICROS); the nanos -> micros branch in
  catalog.load_table serves older testdata only; formatting removes
  precision skew);
- deterministic 64-bit hashing via md5 prefix (same expression both engines);
- every float ratio is an explicit double division of identically-derived
  operands; cosines/jaccards rounded to 6 decimals;
- integer outputs cast to BIGINT on the Spark side (size()/row_number()
  return int32, DuckDB returns int64).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproject_spark import catalog, session
from flinkproject_spark import functions as K
from flinkproject_spark.operators import (
    analytics,
    dedup,
    joins,
    layout,
    multimodal,
    relational,
    routing,
    sampling,
    scale,
    similarity,
    state,
    text,
    windows,
)

SF_SMOKE = "/root/testdata/sf0.001"

QUERY_IDS = [0, 1, 2, 3, 4]  # similarity-search probe set


def _t(spark: SparkSession, sf_dir: str, *names: str):
    session.configure(spark)
    dfs = [catalog.load_table(spark, sf_dir, n) for n in names]
    return dfs[0] if len(dfs) == 1 else dfs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ProvinceStats (windowed GMV + distinct orders per nation)."""
    orders, customer, nation = _t(spark, SF_SMOKE, "orders", "customer", "nation")
    return windows.province_stats(orders, customer, nation)


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def q_a1_project_orders(spark, sf):
    return relational.project_orders(_t(spark, sf, "orders"))


def q_a2_filter_events(spark, sf):
    ev = relational.filter_events(_t(spark, sf, "events"))
    return ev.select("event_id", K.ts_to_str("ts").alias("ts"), "user_id", "event_type", "value", "props")


def q_a3_explode_words(spark, sf):
    out = relational.explode_words(_t(spark, sf, "documents"))
    return out.select("doc_id", "lang", F.col("pos").cast("bigint").alias("pos"), "word")


def q_a4_split_routes(spark, sf):
    return relational.split_route_summary(_t(spark, sf, "events"))


def q_a5_union_streams(spark, sf):
    u = relational.union_measure_streams(_t(spark, sf, "events"))
    return u.select(
        "user_id", K.ts_to_str("ts").alias("ts"),
        *[F.col(c).cast("bigint").alias(c) for c in ("pv_ct", "uv_ct", "sv_ct")],
    )


def q_a6_visitor_stats(spark, sf):
    return windows.visitor_stats(_t(spark, sf, "events"))


def q_a6_visitor_stats_4d(spark, sf):
    return windows.visitor_stats_4d(_t(spark, sf, "events"))


def q_a7_window_distinct(spark, sf):
    return windows.window_distinct_users(_t(spark, sf, "events"))


def q_a8_interval_join(spark, sf):
    orders, lineitem = _t(spark, sf, "orders", "lineitem")
    out = joins.interval_join_orders_lineitem(orders, lineitem)
    return out.select(
        "o_orderkey", "o_custkey", K.ts_to_str("o_orderdate").alias("o_orderdate"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"), "l_partkey",
        "order_price", "sku_num", K.ts_to_str("l_shipdate").alias("l_shipdate"),
    )


def q_a8_payment_wide(spark, sf):
    return joins.payment_wide(_t(spark, sf, "events"))


def q_a9_order_wide(spark, sf):
    orders, customer, nation, region = _t(spark, sf, "orders", "customer", "nation", "region")
    out = joins.order_wide(orders, customer, nation, region)
    return out.withColumn("province_id", F.col("province_id").cast("bigint"))


def q_a9_product_wide(spark, sf):
    lineitem, part, supplier, nation = _t(spark, sf, "lineitem", "part", "supplier", "nation")
    out = joins.product_wide(lineitem, part, supplier, nation)
    return out.select(
        "l_orderkey", F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        "sku_id", "sku_name", "tm_name", "category3_name",
        "supplier_name", "supplier_nation", "order_amount",
    )


def q_a10_unique_visits(spark, sf):
    return state.unique_visits(_t(spark, sf, "events"))


def q_a11_is_new_flag(spark, sf):
    out = state.fix_is_new_flag(_t(spark, sf, "events"))
    return out.withColumn("is_new", F.col("is_new").cast("bigint"))


def q_a12_bounce(spark, sf):
    return state.detect_bounces(_t(spark, sf, "events"))


def q_a12_bounce_strict(spark, sf):
    return state.detect_bounces_strict(_t(spark, sf, "events"))


def q_a12_bounce_cep(spark, sf):
    """A12 via the GENERALIZED CEP operator (operators/cep.py): bounce as a
    begin(entry).next(entry).within instance — same oracle as the strict
    twin, different engine path (shared NFA core, applyInPandas)."""
    from flinkproject_spark.operators import cep

    return cep.detect_bounces_cep(_t(spark, sf, "events"))


def q_cep_followedby(spark, sf):
    """Relaxed-contiguity CEP: begin(purchase).followedBy(purchase)
    .within(2h) — repeat-purchase detection with arbitrary intervening
    events, a pattern strict `next` cannot express (cep.repeat_event_cep).
    The single-greedy-run semantics make the stateful output exactly
    lead()-expressible, so the oracle is full-strength SQL."""
    from flinkproject_spark.operators import cep

    return cep.repeat_event_cep(_t(spark, sf, "events"))


def q_a13_sessionize(spark, sf):
    out = state.sessionize(_t(spark, sf, "events"))
    return out.select(
        "event_id", K.ts_to_str("ts").alias("ts"), "user_id", "event_type", "value",
        F.col("session_seq").cast("bigint").alias("session_seq"),
    )


def q_a15_route_config(spark, sf):
    orders, customer = _t(spark, sf, "orders", "customer")
    return routing.routed_counts({"orders": orders, "customer": customer})


def q_a17_topn_gmv_brand(spark, sf):
    lineitem, part = _t(spark, sf, "lineitem", "part")
    return relational.topn_gmv_by_brand(lineitem, part)


def q_a18_gmv_day_range(spark, sf):
    return relational.gmv_for_day_range(_t(spark, sf, "orders"), "19960101", "19961231")


def q_a19_keyword_stats(spark, sf):
    return windows.keyword_stats(_t(spark, sf, "documents"))


def q_a20_sql_province_stats(spark, sf):
    """A20 — the SQL-over-views surface (ProvinceStatsSqlApp.java:35-68)."""
    session.configure(spark)
    catalog.register_views(spark, sf, ("orders", "customer", "nation"))
    return spark.sql("""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end,   'yyyy-MM-dd HH:mm:ss') AS edt,
               CAST(n_nationkey AS BIGINT) AS province_id,
               n_name AS province_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
               COUNT(DISTINCT o_orderkey) AS order_count
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY window(o_orderdate, '365 days'), n_nationkey, n_name
    """)


def q_b4_cdc_roundtrip(spark, sf):
    """B4+A2 — encode orders into the Debezium-style envelope, decode it
    back (CustomerDeserialization.java:23-85), drop deletes (BaseDBApp.java:56-62)."""
    orders = _t(spark, sf, "orders")
    enveloped = orders.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("orders").alias("tableName"),
                F.create_map(
                    F.lit("id"), F.col("o_orderkey").cast("string"),
                    F.lit("total"), F.col("o_totalprice").cast("string"),
                    F.lit("status"), F.col("o_orderstatus"),
                ).alias("after"),
                F.when(F.col("o_orderstatus") == "F", "update")
                .when(F.col("o_orderstatus") == "P", "delete")
                .otherwise("insert")
                .alias("type"),
            )
        ).alias("value")
    )
    # A real CDC stream arrives pre-partitioned by Kafka; the synthetic
    # envelope inherits the parquet scan's file-count parallelism (4 tasks
    # at sf1), so redistribute the compact JSON strings before the decode
    # stage does the per-row parse work.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    decoded = routing.filter_deletes(
        routing.decode_cdc_envelope(enveloped.repartition(n_parts))
    )
    return decoded.select(
        F.col("database"),
        F.col("tableName").alias("table_name"),
        F.col("after")["id"].cast("bigint").alias("id"),
        F.col("after")["total"].cast("double").alias("total"),
        F.col("type"),
    )


def q_province_stats(spark, sf):
    orders, customer, nation = _t(spark, sf, "orders", "customer", "nation")
    out = windows.province_stats(orders, customer, nation)
    return out.withColumn("province_id", F.col("province_id").cast("bigint"))


def q_product_stats(spark, sf):
    return windows.product_stats(_t(spark, sf, "lineitem"))


def q_dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"))


def q_dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_dedup(_t(spark, sf, "documents"))


def q_dedup_minhash_precision(spark, sf):
    """128-hash/16-band published-practice MinHash tier (VERDICT r03 #4)."""
    return dedup.minhash_lsh_dedup_precision(_t(spark, sf, "documents"))


def q_minhash_pr_report(spark, sf):
    """Measured candidate precision/recall of the 128/16 tier vs the exact
    inverted-index ground truth (df-capped at dedup.PR_MAX_DF with the
    dropped-shingle count reported — 0 at every test SF)."""
    return dedup.minhash_precision_recall(
        _t(spark, sf, "documents"), max_df=dedup.PR_MAX_DF
    )


def q_ngram_novelty(spark, sf):
    """Per-doc shingle novelty share (corpus diversity metric)."""
    return dedup.ngram_novelty(_t(spark, sf, "documents"))


def q_quality_deciles(spark, sf):
    """Equal-population quality bands for mix planning (no global sort:
    one exact-percentile agg + broadcast boundary assignment)."""
    return text.quality_decile_report(_t(spark, sf, "documents"))


def q_dedup_containment(spark, sf):
    """Asymmetric near-containment pairs (doc-inside-doc; Jaccard-blind).
    Threshold 0.5 so the synthetic corpus' partial-overlap near-dups
    exercise both orientations."""
    return dedup.containment_pairs(_t(spark, sf, "documents"), min_containment=0.5)


def q_dedup_minhash_xx(spark, sf):
    """MinHash+LSH on the xxhash64 fast path — the production hash tier
    (same plan shape as dedup_minhash_lsh, no md5 string round-trip).
    xxhash64 signatures are not reproducible outside Spark, so the query
    emits the pipeline's deterministic INVARIANT CERTIFICATE instead of
    raw pairs (VERDICT r04 #3): exact truth-pair count, soundness of every
    emitted pair against the independent inverted-index truth, and the
    guaranteed-recall check on identical-shingle-set pairs. The full xx
    pipeline executes inside, so the BENCH row still prices the fast
    path."""
    return dedup.minhash_xx_certificate(_t(spark, sf, "documents"))


def q_dedup_clusters(spark, sf):
    """Near-dup CLUSTER manifest: connected components (iterative min-label
    propagation) over the MinHash pair graph; every doc gets its
    component's min doc_id + cluster size. Oracle: DuckDB recursive CTE
    transitive closure — the iterative-algorithm class, cross-checked."""
    return dedup.dedup_clusters(_t(spark, sf, "documents"))


def q_dedup_clusters_star(spark, sf):
    """Same cluster manifest via the alternating large-star/small-star CC
    (Kiveris et al. SoCC'14) — the unbounded-graph form: pure groupBy
    rounds, no label-table joins, no broadcast, O(log^2 n) convergence.
    Shares the propagation form's recursive-CTE oracle (identical output
    is the point)."""
    return dedup.dedup_clusters(_t(spark, sf, "documents"), algorithm="star")


def q_dedup_chunks(spark, sf):
    """Sub-document exact dedup: disjoint 40-token chunks hashed and
    grouped corpus-wide; duplicated chunks only, lexicographic keeper via
    a single integer key (dedup.chunk_level_dedup)."""
    return dedup.chunk_level_dedup(_t(spark, sf, "documents"))


def q_dedup_chunks_apply(spark, sf):
    """Chunk-dedup APPLICATION: strip duplicated non-keeper chunks and
    reassemble clean text per doc (dedup.chunk_dedup_apply)."""
    return dedup.chunk_dedup_apply(_t(spark, sf, "documents"))


def q_dedup_spans(spark, sf):
    """Exact repeated-SPAN detection (rolling 8-gram hash -> cross-doc df
    -> per-doc interval merge): the distributed form of suffix-array
    exact-substring dedup (Lee et al. 2022), alignment-free where the
    disjoint-chunk pass is alignment-sensitive (dedup.duplicated_spans)."""
    return dedup.duplicated_spans(_t(spark, sf, "documents"))


def q_dedup_spans_apply(spark, sf):
    """Repeated-span dedup APPLICATION: strip duplicated spans from
    non-keeper documents at token granularity (keeper windows protect
    their copy) and reassemble clean text (dedup.span_dedup_apply)."""
    return dedup.span_dedup_apply(_t(spark, sf, "documents"))


def q_dedup_spans_intradoc(spark, sf):
    """Repeated-span detection under the OCCURRENCE rule
    (include_intra_doc=True, ADVICE r07): a gram qualifies when its
    total occurrence count >= 2, so content repeated WITHIN one document
    is detected too — the Lee-et-al.-faithful mode next to the default
    cross-document form; nd_max reports occurrences."""
    return dedup.duplicated_spans(_t(spark, sf, "documents"), include_intra_doc=True)


def q_event_freq_cms(spark, sf):
    """Count-Min Sketch heavy-hitter calibration: d x w md5-hash counters,
    min-over-rows estimates for the exact top-20 users, overshoot and
    soundness columns — the sketch is rebuilt bit-for-bit by the oracle
    (relational.cms_frequency_report)."""
    return relational.cms_frequency_report(_t(spark, sf, "events"))


def q_dedup_srp(spark, sf):
    """Embedding near-dup via signed-random-projection LSH: int64-exact
    quantized hyperplane signatures (bit-identical to the oracle's SQL
    regeneration of the same md5-derived projection), banded buckets,
    exact cosine verification (dedup.srp_lsh_near_dups).

    ADAPTIVE banding (VERDICT r07 task 1b): bits=None makes the operator
    derive the band width from the corpus count (b = ceil(log2 n) via
    dedup.srp_recommended_banding), so this driver form IS the
    scale-safe form — the fixed 16/4 calibration it replaces measured
    exponent 1.83 at sf1 (BENCH_SF1.md) while the rule-derived banding
    stays linear through sf10. The oracle regenerates the identical
    banding in SQL from count(*), so adaptivity itself is
    oracle-verified."""
    return dedup.srp_lsh_near_dups(_t(spark, sf, "embeddings"), bits=None, bands=8)


def q_dedup_srp_scaled(spark, sf):
    """The EXPLICIT-knob form of the SRP pipeline (r08 repurposing): the
    caller computes the banding by hand from the corpus count via
    dedup.srp_recommended_banding at a NON-default recall/work budget
    (pairs_per_vector_budget=2.0 — one band bit fewer than dedup_srp's
    auto mode, trading more verification work for more candidate
    recall). Scale-safe by construction (b still grows as log2 n) while
    demonstrating the library's caller-supplied-banding API next to the
    operator-internal auto mode. Its predecessor — the FIXED 96/8
    banding that saturates at sf10 on schedule — lives on as a
    non-driver DEMONSTRATION row in BENCH_SF10.md."""
    emb = _t(spark, sf, "embeddings")
    bits, bands = dedup.srp_recommended_banding(
        emb.count(), bands=8, pairs_per_vector_budget=2.0
    )
    return dedup.srp_lsh_near_dups(emb, bits=bits, bands=bands)


def q_dedup_simhash(spark, sf):
    out = dedup.simhash_near_dups(_t(spark, sf, "documents"))
    return out.withColumn("hamming", F.col("hamming").cast("bigint"))


def q_dedup_ngram_blocked(spark, sf):
    return dedup.blocked_ngram_jaccard(_t(spark, sf, "documents"))


def q_dedup_embedding(spark, sf):
    """Within-cell cosine near-dups with the cell-size cap WIRED IN
    (VERDICT r07 task 1a): max_cell_rows=2000 never binds at sf0.01/0.1
    (max cell 59 / 218 rows) but bounds per-cell O(m^2) work at scale,
    where the testdata's fixed 10-label quantizer otherwise makes cell
    population linear in corpus size (BENCH_SF10.md: exponent 2.15
    uncapped, 0.36 with this cap). The oracle replays the cap ITSELF
    (r11: _srp_sub_ctes regenerates the 20-bit SRP sub-bucket split), so
    the query is bit-exact even where the cap binds — verified at sf1
    (5k-row cells, xb=2)."""
    return dedup.embedding_near_dups(_t(spark, sf, "embeddings"), max_cell_rows=2000)


def q_ann_recall_report(spark, sf):
    """Per-query recall@10 of the multi-probe IVF tier against the exact
    brute-force ground truth (similarity.recall_at_k) — the ANN analog of
    minhash_pr_report: the measured number that justifies the nprobe
    parameter, oracle-checked end-to-end because both the exact and the
    IVF pipelines are themselves DuckDB-reproducible."""
    emb = _t(spark, sf, "embeddings")
    # ONE normalized intermediate feeds the approximate arm's query and
    # candidate subtrees (r12, VERDICT r11 task 3: shared scan)
    e = similarity.with_norm(emb).localCheckpoint(eager=False)
    # exact arm: the vectorized exact kernel — sim_topk_vectorized, whose
    # oracle is the exact CTE below (_topk_sql(cell_pruned=False))
    exact = similarity.cosine_topk_vectorized(emb, QUERY_IDS)
    approx = similarity.cosine_topk_ivf_nprobe(emb, QUERY_IDS, normed=e)
    out = similarity.recall_at_k(approx, exact, k=10)
    return out.select("query_id", F.round("recall", 6).alias("recall"))


def q_sim_topk_pq(spark, sf):
    """Product-quantization ANN with ADC shortlist + exact rerank
    (similarity.pq_adc_topk): candidates scored from m=16 6-bit codes via
    a broadcast lookup table, ADC shortlist re-scored with true vectors —
    the compressed-index serving path (Jegou et al. 2011), deterministic
    end-to-end via the int64 quantization contract.

    rerank="auto" (VERDICT r07 task 5): the shortlist R is sized from
    the corpus count (similarity.pq_auto_rerank, R ~ sqrt(n) in
    power-of-two steps — R=100 at test SFs, identical output) so the
    driver form holds its recall as the corpus grows; the oracle
    regenerates the same R from count(*)."""
    out = similarity.pq_adc_topk(_t(spark, sf, "embeddings"), QUERY_IDS, rerank="auto")
    return out


def q_pq_recall_report(spark, sf):
    """Recall@10 of the PQ+rerank tier against the exact brute-force
    ground truth — the calibration row that justifies the (m, bits,
    shortlist) knobs, oracle-checked because both pipelines are
    DuckDB-reproducible."""
    emb = _t(spark, sf, "embeddings")
    # exact arm: the vectorized exact kernel (see q_ann_recall_report)
    exact = similarity.cosine_topk_vectorized(emb, QUERY_IDS)
    # the rerank stage reads with_norm(emb) for its query AND candidate
    # subtrees — one checkpointed computation instead of two (r12)
    e = similarity.with_norm(emb).localCheckpoint(eager=False)
    approx = similarity.pq_adc_topk(emb, QUERY_IDS, rerank="auto", normed=e)
    out = similarity.recall_at_k(approx, exact, k=10)
    return out.select("query_id", F.round("recall", 6).alias("recall"))


def q_sim_topk_vectorized(spark, sf):
    out = similarity.cosine_topk_vectorized(_t(spark, sf, "embeddings"), QUERY_IDS)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_sim_topk_ivf(spark, sf):
    out = similarity.cosine_topk_ivf(_t(spark, sf, "embeddings"), QUERY_IDS)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_text_token_stats(spark, sf):
    out = text.token_stats(_t(spark, sf, "documents"))
    return out.select(
        "doc_id", "lang", "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_unique").cast("bigint").alias("n_unique"),
        "n_chars", "avg_token_len",
    )


def q_text_corpus_summary(spark, sf):
    out = text.corpus_token_summary(_t(spark, sf, "documents"))
    return out.select(
        "source", "n_docs",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("total_unique_tokens").cast("bigint").alias("total_unique_tokens"),
        F.col("max_tokens").cast("bigint").alias("max_tokens"),
    )


def q_text_quality(spark, sf):
    out = text.quality_scores(_t(spark, sf, "documents"))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


def q_text_langid(spark, sf):
    out = text.lang_id(_t(spark, sf, "documents"))
    return out.withColumn("best_score", F.col("best_score").cast("bigint"))


def q_text_fingerprint(spark, sf):
    out = text.fingerprints(_t(spark, sf, "documents"))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


def q_text_logprob(spark, sf):
    """Corpus-relative unigram log-prob fluency score per doc; decimal-
    summed log-probs for order-independent exactness (text.unigram_logprob_scores)."""
    return text.unigram_logprob_scores(_t(spark, sf, "documents"))


def q_text_gopher(spark, sf):
    """Gopher-rule quality gate: five named boolean rules + keep verdict
    per doc, all codegen'd string/array expressions (text.gopher_quality_flags)."""
    return text.gopher_quality_flags(_t(spark, sf, "documents"))


def q_text_redact_pii(spark, sf):
    """PII scrub audit: deterministic PII seeded into the synthetic corpus
    (seed_pii — every 3rd doc an email, 5th a phone, 7th an ip+ssn), then
    redacted to <CLASS> tokens with per-class counts. Single codegen'd
    projection, zero shuffles — scan-speed at 100 TB."""
    return text.redact_pii(text.seed_pii(_t(spark, sf, "documents")))


def q_contamination(spark, sf):
    """Benchmark decontamination: shingle-overlap of every training doc
    against the 'eval set' (docs with doc_id % 37 == 0 standing in for a
    held-out benchmark). dedup.contamination_check — distinct-shingle
    semi-structure, AQE-broadcastable benchmark side."""
    docs = _t(spark, sf, "documents")
    return dedup.contamination_check(
        docs.filter(F.col("doc_id") % 37 != 0),
        docs.filter(F.col("doc_id") % 37 == 0),
    )


def q_contamination_bloom(spark, sf):
    """Bloom-filter decontamination (production tier of `contamination`):
    the eval set collapses to an AUTO-SIZED bit filter (max(2^20, 13x
    bench shingles) — ~<=1% FP at any eval-set scale; 128 KB at the
    floor) and every training shingle tests k=3 md5-derived double-hash
    positions with pure JVM bit math (no join on the probe path).
    dedup.bloom_contamination_check, bitset mode; the
    declarative positions mode is pinned output-identical by test, and
    the oracle reproduces the deterministic filter bit-for-bit. No false
    negatives vs the exact tier (property-tested); deliberately run at a
    load factor where a few false positives EXIST, so the pct columns
    demonstrate the bloom trade honestly rather than degenerating to the
    exact answer."""
    docs = _t(spark, sf, "documents")
    return dedup.bloom_contamination_check(
        docs.filter(F.col("doc_id") % 37 != 0),
        docs.filter(F.col("doc_id") % 37 == 0),
    )


def q_a19_udtf_lateral(spark, sf):
    """A19/D — keyword counts through the registered Python UDTF + LATERAL
    (the reference's exact query shape, KeywordStatsApp.java:55-75); the
    explode-based a19_keyword_stats is the JVM fast path for the same
    semantics."""
    session.configure(spark)
    catalog.register_views(spark, sf, ("documents",))
    text.register_split_words(spark)
    # REPARTITION(n) hint: the row-at-a-time UDTF otherwise runs inside the
    # scan stage at file-count parallelism (sf1 derived data = 1-2 files);
    # one round-robin exchange of the NARROW doc rows moves the Python
    # fan-out to full core count. Explicit n (the cluster-tuned shuffle
    # partitions) rather than the bare hint: AQE's bytes-based coalescing
    # undersizes stages whose cost is per-row Python, not bytes.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.sql(f"""
        SELECT word AS keyword, COUNT(*) AS ct, 'search' AS source
        FROM (SELECT /*+ REPARTITION({n}) */ text FROM documents) d,
             LATERAL split_words(text)
        GROUP BY word
        ORDER BY ct DESC, keyword
        LIMIT 100
    """)


def q_a19_udtf_subword(spark, sf):
    """A19/D — subword keyword counts through the 1->N `split_subwords`
    UDTF + LATERAL: each input word fans out into multiple pieces (the IK
    analyzer's multi-token emission, KeywordUtil.java:13-35), so output
    rows exceed input tokens — the actual point of a UDTF."""
    session.configure(spark)
    catalog.register_views(spark, sf, ("documents",))
    text.register_split_subwords(spark)
    # Same REPARTITION(n)-before-LATERAL as a19_udtf_lateral: lift the
    # Python UDTF off the file-parallel scan stage, sized past AQE's
    # bytes-based coalescing (cost here is per-row Python).
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.sql(f"""
        SELECT piece AS keyword, COUNT(*) AS ct, 'search' AS source
        FROM (SELECT /*+ REPARTITION({n}) */ text FROM documents) d,
             LATERAL split_subwords(text)
        GROUP BY piece
        ORDER BY ct DESC, keyword
        LIMIT 100
    """)


def q_session_stats(spark, sf):
    """Session windows (native F.session_window) — an engine addition beyond
    the reference's tumbling-only surface (SURVEY §2E)."""
    return windows.session_stats(_t(spark, sf, "events"))


def q_text_bpe_tokens(spark, sf):
    return text.bpe_token_stats(_t(spark, sf, "documents"))


def q_mm_decode(spark, sf):
    """Multimodal decode plumbing (mapInPandas over binary payloads; the
    decode itself is the documented stub)."""
    return multimodal.decode_assets(multimodal.documents_as_assets(_t(spark, sf, "documents")))


def q_mm_frame_sample(spark, sf):
    return multimodal.frame_sample(multimodal.documents_as_assets(_t(spark, sf, "documents")))


def q_mm_features(spark, sf):
    return multimodal.extract_features(multimodal.documents_as_assets(_t(spark, sf, "documents")))


def q_mm_resize(spark, sf):
    return multimodal.resize_assets(multimodal.documents_as_assets(_t(spark, sf, "documents")))


def q_asof_last_order(spark, sf):
    """As-of join (union+running-window form, joins.asof_join): each event
    enriched with the user's most recent order state at-or-before event
    time — the point-in-time feature-store primitive. Beyond the
    reference's bounded interval join (OrderWideApp.java:99-107)."""
    events, orders = _t(spark, sf, "events", "orders")
    return joins.last_order_asof(events, orders)


def q_gmv_rollup(spark, sf):
    """ROLLUP serving aggregate: region/nation/grand-total GMV in one pass
    (beyond the single-grain serving SQL at ProductStatsMapper.java:12,26)."""
    orders, customer, nation, region = _t(spark, sf, "orders", "customer", "nation", "region")
    return relational.gmv_rollup(orders, customer, nation, region)


def q_topn_per_nation(spark, sf):
    """Ranked top-N per group: top-3 customers by spend within each nation
    (row_number window after the aggregate; beyond the global top-N A17)."""
    orders, customer, nation = _t(spark, sf, "orders", "customer", "nation")
    return relational.topn_customers_per_nation(orders, customer, nation)


def q_sliding_visitor_stats(spark, sf):
    """Sliding (hopping) windows — 2 h windows every 1 h; completes the
    window family (tumbling A6, session, sliding) beyond the reference's
    tumbling-only surface (SURVEY §2E)."""
    return windows.sliding_visitor_stats(_t(spark, sf, "events"))


def q_order_value_percentiles(spark, sf):
    """Exact distribution serving query (percentile = DuckDB quantile_cont,
    verified bit-identical; approx_percentile is the 100 TB valve)."""
    return relational.order_value_percentiles(_t(spark, sf, "orders"))


def q_order_value_percentiles_approx(spark, sf):
    """The quantile-sketch valve, CERTIFIED (r05): GK approx_percentile
    runs in-query and its rank-error bound is asserted against the exact
    percentiles via the deterministic `approx_ok` flag — the sketch twin
    of the HLL certificate (relational.order_value_percentiles_approx)."""
    return relational.order_value_percentiles_approx(_t(spark, sf, "orders"))


def q_scd2_order_state(spark, sf):
    """SCD2 dim-history build: per-customer daily order-state versions with
    [valid_from, valid_to) bounds (the batch complement of asof_join;
    reference dim sink is overwrite-in-place SCD1, DimSinkFunction.java:21-77)."""
    orders = _t(spark, sf, "orders")
    day_orders = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("last_order_key"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
    )
    hist = routing.scd2_history(
        day_orders, "o_custkey", "o_orderdate",
        ["last_order_key", "last_order_price"],
    )
    return hist.select(
        F.col("o_custkey").alias("cust_id"),
        K.ts_to_str("valid_from").alias("valid_from"),
        F.coalesce(K.ts_to_str("valid_to"), F.lit("current")).alias("valid_to"),
        "version", "last_order_key", "last_order_price",
    )


def q_a8_interval_join_outer(spark, sf):
    """Left-outer interval join — unmatched orders surface with sentinel
    nulls (the reference's Flink intervalJoin is inner-only)."""
    orders, lineitem = _t(spark, sf, "orders", "lineitem")
    return joins.interval_join_outer(orders, lineitem)


def q_event_type_pivot(spark, sf):
    """Pivot/crosstab serving query: per-day value sums, one column per
    event type (explicit value list -> one conditional aggregate)."""
    return relational.daily_event_type_pivot(_t(spark, sf, "events"))


def q_dedup_survivors(spark, sf):
    """LEFT ANTI join applying exact-dedup results: the filtered corpus
    with only canonical docs (the reference has no anti joins — SURVEY §2E)."""
    return dedup.dedup_survivors(_t(spark, sf, "documents"))


def q_running_spend(spark, sf):
    """Cumulative per-customer spend (running-total window function;
    deterministic ROWS frame ordered by date then order id)."""
    return relational.customer_running_spend(_t(spark, sf, "orders"))


def q_sim_topk_ivf_nprobe(spark, sf):
    """Multi-probe IVF ANN: rank cells by query->centroid cosine, probe the
    top 2 — the recall knob over the single-cell IVF tier."""
    return similarity.cosine_topk_ivf_nprobe(_t(spark, sf, "embeddings"), QUERY_IDS)


def q_product_stats_approx(spark, sf):
    """ProductStats with approx_count_distinct (HLL++) — the 100 TB valve
    for A7's exact distinct — in its CERTIFIED form (VERDICT r04 #3):
    sketch estimates are engine-specific, so the query emits the exact
    per-group stats plus the deterministic error-bound flag `approx_ok`,
    which a DuckDB oracle predicts as TRUE for every group. The sketch
    aggregate runs in the same groupBy, so the driver row certifies the
    HLL path instead of recording no_oracle; the pure sketch-only plan
    remains `windows.product_stats_approx` (unit-tested for error
    bounds)."""
    return windows.product_stats_approx_certified(_t(spark, sf, "lineitem"))


# Corpus-composition parameters (shared by Spark query + oracle)
SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
SAMPLE_DEFAULT = 0.1
TOKEN_BUDGET = 20_000


def q_corpus_sample(spark, sf):
    """Deterministic per-source stratified sampling (hash-Bernoulli) — the
    corpus up/down-weighting step of a training-data pipeline."""
    docs = _t(spark, sf, "documents")
    out = sampling.stratified_sample(docs, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT)
    return out.select("doc_id", "lang", "source", "n_chars")


def q_token_budget_pack(spark, sf):
    """Quality-first greedy packing under a token budget."""
    return sampling.token_budget_pack(_t(spark, sf, "documents"), TOKEN_BUDGET)


def q_text_repetition(spark, sf):
    """Gopher-style top-ngram repetition features."""
    return text.repetition_scores(_t(spark, sf, "documents"))


def q_cluster_assign(spark, sf):
    """Nearest-centroid assignment over the embedding collection."""
    return similarity.cluster_assign(_t(spark, sf, "embeddings"))


def q_dedup_incremental(spark, sf):
    """Steady-state dedup: a new batch admitted against the persisted
    corpus content index (doc_id % 3 == 0 plays the already-ingested
    corpus; the rest is the incoming batch)."""
    docs = _t(spark, sf, "documents")
    existing = docs.filter(F.col("doc_id") % 3 == 0)
    new_batch = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup.incremental_dedup(new_batch, dedup.content_index(existing))


def q_sim_quantize(spark, sf):
    """int8 symmetric quantization audit (per-vector scale + reconstruction
    cosine)."""
    return similarity.quantization_report(_t(spark, sf, "embeddings"))


def q_text_entropy(spark, sf):
    """Character-distribution Shannon entropy per document."""
    return text.char_entropy(_t(spark, sf, "documents"))


def q_dedup_normalized(spark, sf):
    """Near-exact dedup over canonicalized text."""
    return dedup.normalized_exact_dedup(_t(spark, sf, "documents"))


def q_corpus_cube(spark, sf):
    """All (lang x source) corpus slices + marginals in one CUBE pass."""
    return text.corpus_cube(_t(spark, sf, "documents"))


def q_corpus_by_cluster(spark, sf):
    """Cross-modal quality rollup per embedding cluster (documents joined
    to embeddings on the shared id)."""
    documents, embeddings = _t(spark, sf, "documents", "embeddings")
    return sampling.corpus_quality_by_cluster(documents, embeddings)


def q_corpus_pipeline_v2(spark, sf):
    """The FULL-surface corpus build (plans/corpus.build_training_corpus_v2):
    PII redaction -> Gopher rule gate -> decontamination vs the eval split
    -> exact dedup on scrubbed text -> stratified sample -> token-budget
    pack. Every stage is an individually-oracle-checked operator; this
    query pins their composition. seed_pii is applied HERE (bench bridge,
    mirroring q_text_redact_pii) — the plan itself feeds raw text."""
    from flinkproject_spark.plans import corpus

    docs = _t(spark, sf, "documents")
    return corpus.build_training_corpus_v2(
        text.seed_pii(docs.filter(F.col("doc_id") % 37 != 0)),
        benchmark=docs.filter(F.col("doc_id") % 37 == 0),
        max_contamination=0.2,
        min_quality=0.5,
        rates=SAMPLE_RATES,
        default_rate=0.5,
        budget_tokens=10_000,
    )


def q_corpus_pipeline_v3(spark, sf):
    """The modern selection-and-ordering corpus build (plans/corpus
    .build_training_corpus_v3): fused profile gate -> bag-of-words
    fingerprint dedup -> DSIR importance selection -> curriculum order.
    Composition of four individually-oracle-checked round-4 operators;
    this query pins the composition."""
    from flinkproject_spark.plans import corpus

    return corpus.build_training_corpus_v3(_t(spark, sf, "documents"))


def q_corpus_pipeline_v5(spark, sf):
    """The TRAINED-classifier corpus build (plans/corpus.py v5): span
    scrub -> dedup -> Naive Bayes quality gate under the PERSISTED
    `_nb_model` table (fit once on the raw corpus, applied to the
    scrubbed text — OOV-sound) -> budget pack ranked by the exact-int64
    classifier margin."""
    from flinkproject_spark.plans import corpus

    docs, model = _nb_model(spark, sf)
    return corpus.build_training_corpus_v5(docs, model)


def q_text_chunks(spark, sf):
    """Sliding-window document chunking (40-token chunks, 10 overlap)."""
    return text.chunk_documents(_t(spark, sf, "documents"))


def q_corpus_split(spark, sf):
    """Deterministic train/val/test assignment (leakage-safe hash split)."""
    out = sampling.assign_split(_t(spark, sf, "documents"))
    return out.select("doc_id", "lang", "source", "split")


def q_corpus_shuffle(spark, sf):
    """Seeded deterministic training-order permutation: shard =
    hash(seed:doc_id) mod 64, in-shard hash-order positions, global_pos
    via per-shard offsets — no global sort anywhere (sampling.shuffled_order)."""
    return sampling.shuffled_order(_t(spark, sf, "documents"), seed="epoch0")


MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_corpus_mix(spark, sf):
    """Domain-mix resampling to target token shares (40/30/20/10 over four
    sources, others dropped): budget = scarcest source's capacity, per-
    source hash-Bernoulli rates derived in-plan (sampling.domain_mix_sample)."""
    return sampling.domain_mix_sample(_t(spark, sf, "documents"), MIX_TARGETS)


def q_corpus_pack(spark, sf):
    """Distributed greedy sequence packing into 512-token bins across 8
    independent lanes."""
    return sampling.pack_sequences(_t(spark, sf, "documents"))


def q_order_prorate(spark, sf):
    """Exact largest-remainder proration of o_totalprice across line items
    (the computation behind OrderWide's split_total_amount fields)."""
    orders, lineitem = _t(spark, sf, "orders", "lineitem")
    return relational.prorate_order_amount(orders, lineitem)


def q_funnel(spark, sf):
    """Ordered view->click->purchase conversion funnel per user."""
    return analytics.funnel(_t(spark, sf, "events"))


def q_funnel_windowed(spark, sf):
    """Time-constrained funnel: each step within 1h of the previous
    (analytics.funnel_windowed)."""
    return analytics.funnel_windowed(_t(spark, sf, "events"))


def q_daily_anomalies(spark, sf):
    """Trailing-window volume anomalies per (event_type, day)
    (analytics.daily_anomalies)."""
    return analytics.daily_anomalies(_t(spark, sf, "events"))


def q_daily_anomalies_dense(spark, sf):
    """Calendar-densified anomaly flags (ADVICE r04 #2): silent days count
    as n=0, so the trailing baseline is the true last-7-calendar-days
    (analytics.daily_anomalies_dense)."""
    return analytics.daily_anomalies_dense(_t(spark, sf, "events"))


def q_retention_cohorts(spark, sf):
    """First-active-day cohorts x day-offset distinct active users."""
    return analytics.retention_cohorts(_t(spark, sf, "events"))


def q_dedup_semantic(spark, sf):
    """SemDeDup (arXiv:2303.09540): within-cell semantic near-dup groups;
    keep the member FURTHEST from the cell centroid (pairwise-dominance
    form of the paper's greedy; dedup.semdedup).

    Cell-size cap WIRED IN (VERDICT r07 task 1a): max_cell_rows=2000
    never binds at sf0.01/0.1 but caps per-cell matmul work at scale —
    the paper's own scaling move (k grows with the corpus) as a knob
    (BENCH_SF10.md: exponent 1.93 uncapped, 0.28 with this cap). The
    oracle replays the cap ITSELF (r11: _semdedup_sql(cap=2000) groups
    centroid, cent_cos, pairs and dominance by the refined (label, SRP
    sub-bucket) cell), so the query is bit-exact even where the cap
    binds — verified at sf1."""
    return dedup.semdedup(_t(spark, sf, "embeddings"), max_cell_rows=2000)


def q_text_dsir(spark, sf):
    """DSIR importance weights (arXiv:2302.03169): per-doc mean unigram
    log p_target/p_raw vs the corpus' en slice (text.dsir_importance)."""
    return text.dsir_importance(_t(spark, sf, "documents"))


def q_corpus_zipf(spark, sf):
    """Top-50 vocabulary Zipf head: rank, share, cumulative share
    (text.corpus_zipf)."""
    return text.corpus_zipf(_t(spark, sf, "documents"))


def q_split_leakage(spark, sf):
    """Eval-integrity audit: content groups whose byte-identical duplicates
    straddle train/val/test after the hash split (sampling.split_leakage).
    Bench bridge (the sf0.01 corpus has no exact duplicates): every 5th doc
    is re-ingested under doc_id + 1_000_000 — the duplicate-ingestion event
    the audit exists to catch; the duplicated ids draw independent splits,
    so some pairs provably straddle the boundary."""
    docs = _t(spark, sf, "documents")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return sampling.split_leakage(docs.unionByName(dups))


def q_corpus_profile(spark, sf):
    """Fused one-pass per-document audit: token stats + quality + Gopher
    gate + lang-ID + fingerprint in ONE codegen'd projection
    (text.corpus_profile)."""
    return text.corpus_profile(_t(spark, sf, "documents"))


def q_text_bigram_logprob(spark, sf):
    """Interpolated bigram-LM fluency score per document
    (text.bigram_logprob_scores)."""
    return text.bigram_logprob_scores(_t(spark, sf, "documents"))


def q_corpus_curriculum(spark, sf):
    """Easy-first curriculum order: 4 quality-band phases, seeded shard
    shuffle within each phase (sampling.curriculum_order)."""
    return sampling.curriculum_order(_t(spark, sf, "documents"))


def q_corpus_weighted_sample(spark, sf):
    """Efraimidis-Spirakis weighted sampling without replacement: 20 docs
    per source, inclusion odds proportional to quality
    (sampling.weighted_sample)."""
    return sampling.weighted_sample(_t(spark, sf, "documents"))


def q_text_tfidf(spark, sf):
    """Top-10 distinctive tokens per source by tf-idf (text.tfidf_terms)."""
    return text.tfidf_terms(_t(spark, sf, "documents"))


def q_hybrid_search(spark, sf):
    """Hybrid retrieval: tf-idf lexical candidates ('spark scan window')
    -> cosine rerank against vec 0's embedding -> Reciprocal Rank Fusion
    (rank-based, so no cross-modality score calibration; fusion is a sum
    of exact rationals). The RAG serving shape, on the aligned
    doc_id = vec_id key space (similarity.hybrid_rrf_topk)."""
    return similarity.hybrid_rrf_topk(
        _t(spark, sf, "documents"),
        _t(spark, sf, "embeddings"),
        terms=["spark", "scan", "window"],
    )


def q_dedup_semantic_trained(spark, sf):
    """SemDeDup over TRAINED cells — the third consumer of the round-8
    quantizer (near-dup and IVF being the others), completing the
    train -> assign -> semantic-prune pipeline: same furthest-from-
    centroid dominance logic, cells sized by training instead of the
    fixed labels; the oracle reuses the identical SemDeDup SQL body over
    the unrolled-fit assignment (dedup.semdedup on kmeans_assign
    labels, max_cell_rows=2000 no-bind cap)."""
    emb = _t(spark, sf, "embeddings")
    # label + vector from ONE assignment pass (carry=) — no relabel join
    relabeled = similarity.kmeans_assign(emb, carry=("embedding",)).select(
        "vec_id", "embedding", F.col("cid").alias("label")
    ).localCheckpoint(eager=False)  # consumers read it twice; one assign pass
    return dedup.semdedup(relabeled, max_cell_rows=2000)


def q_embedding_covariance(spark, sf):
    """Exact distributed second moments of the embedding collection: the
    d x d Gram/covariance upper triangle from one mapInPandas partial
    per Arrow batch + a d^2-row reduce — every ingredient (sxy, sx, sy,
    n) an exact int64 the oracle reproduces, cov derived and rounded.
    The d x d output feeds whitening/PCA driver-side
    (similarity.embedding_gram / whitening_transform)."""
    return similarity.embedding_gram(_t(spark, sf, "embeddings"))


def q_copurchase(spark, sf):
    """Market-basket association pairs: co-purchased parts at support>=2
    with lift vs the independent baseline; baskets gated at 64 items so
    pair volume is O(rows * max_basket) (analytics.copurchase_pairs)."""
    return analytics.copurchase_pairs(_t(spark, sf, "lineitem"))


def q_cluster_topics(spark, sf):
    """Per-trained-cell distinctive vocabulary: kmeans_assign labels docs
    through the aligned doc_id = vec_id key space, then top-10 tokens per
    cell by tf-idf against the corpus-wide df — the corpus-cartography
    report (what IS each cluster about?); the fourth quantizer consumer,
    and the whole composition including the Lloyd fit is oracle-replayed
    (text.cluster_topics)."""
    return text.cluster_topics(
        _t(spark, sf, "documents"), _t(spark, sf, "embeddings")
    )


def q_pagerank(spark, sf):
    """PageRank over the co-purchase part graph — iterative link analysis
    in int64 fixed-point (rank mass 10^6/node, damping 85/100, 5 Jacobi
    steps, ALL divisions exact integer `div`), so the fixed-point itself
    is bit-reproduced by the oracle's unrolled CTEs: the web-corpus
    quality prior (Page et al. 1999) computed Pregel-style — one rank
    join + one dst-keyed aggregate per step (analytics.pagerank)."""
    return analytics.pagerank(_t(spark, sf, "lineitem"))


def q_sim_topk_ivf_trained(spark, sf):
    """IVF ANN over TRAINED cells: the serving-side composition of the
    round-8 quantizer — kmeans_assign relabels the collection, then the
    existing cell-pruned top-k probes the query's trained cell (~100
    rows at any scale by the auto-k contract, vs the fixed labels'
    linearly-growing cells). Same ranking contract as every ANN tier;
    the oracle replays the full fit + assignment + probe in SQL
    (similarity.kmeans_assign + cosine_topk_ivf)."""
    emb = _t(spark, sf, "embeddings")
    # label + vector from ONE assignment pass (carry=) — no relabel join
    relabeled = similarity.kmeans_assign(emb, carry=("embedding",)).select(
        "vec_id", "embedding", F.col("cid").alias("label")
    ).localCheckpoint(eager=False)  # consumers read it twice; one assign pass
    out = similarity.cosine_topk_ivf(relabeled, QUERY_IDS)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_urgent_revenue(spark, sf):
    """Selective-dim -> fact join with runtime bloom-filter scan pruning:
    revenue of URGENT orders' line items by order day. Declared as the
    plain filter-join-agg so Catalyst's InjectRuntimeFilter owns the
    rewrite (might_contain on the fact scan — pinned under
    at-scale thresholds in tests); results are threshold-invariant
    (joins.urgent_revenue_by_day)."""
    return joins.urgent_revenue_by_day(
        _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


def q_events_zorder(spark, sf):
    """Z-order layout audit: the 256 coarsest Morton cells over
    (user_id mod 256, dayofyear mod 256) with per-cell population and
    per-dimension min/max — tight spans in BOTH dimensions are the
    multi-dimensional pruning property, value-verified via identical
    shift/mask bit math in the oracle (layout.zorder_cell_stats; the
    write side is layout.zorder_layout, footer-stat-proven in tests)."""
    return layout.zorder_cell_stats(_t(spark, sf, "events"))


def q_events_distinct_hll(spark, sf):
    """HyperLogLog daily unique visitors (the UV sketch: 64 registers per
    day instead of per-key state) plus a lifetime '__all__' row whose
    registers are the max-merge of the per-day sketches
    (merge-equals-direct by construction — the distributed/streaming
    property). md5-kernel registers, integer-scaled harmonic sum: the
    ESTIMATE is value-verified by the oracle, not tolerance-certified
    (relational.hll_distinct_report)."""
    return relational.hll_distinct_report(_t(spark, sf, "events"))


def q_value_quantiles_hist(spark, sf):
    """Mergeable fixed-bin histogram quantiles — the QUANTILE sketch
    beside CMS (frequency) and HLL (cardinality): int64-quantized values
    binned on global edges with pure integer `div`, per-type counters
    SUM-MERGED into the '__all__' row (merge-equals-direct by
    construction, the streaming/distributed property), quantile edges
    selected by integer rank comparison — the ESTIMATE is value-verified
    by the oracle, not tolerance-certified
    (relational.histogram_quantile_report)."""
    return relational.histogram_quantile_report(_t(spark, sf, "events"))


def q_cluster_kmeans(spark, sf):
    """Trained coarse quantizer: Lloyd's k-means in EXACT int64 arithmetic
    (round(v*1000) vectors, integer squared-L2 argmin with cid tie-break,
    floor(sum/count) centroid updates, hash-rank seeding), k derived from
    the corpus count (kmeans_auto_k — expected cell size pinned at 100
    regardless of scale). Output is the centroid table the IVF/SemDeDup
    tiers consume: (cid, n, cent_l1, cent_d0) — population plus integer
    centroid digests, every value bit-reproduced by the oracle's unrolled
    3-iteration SQL twin (similarity.kmeans_fit)."""
    fit = similarity.kmeans_fit(_t(spark, sf, "embeddings"))
    return fit.select(
        "cid",
        "n",
        F.aggregate(
            F.transform("cent", lambda x: F.abs(x)),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("cent_l1"),
        F.col("cent")[0].alias("cent_d0"),
    )


def q_cluster_kmeans_assign(spark, sf):
    """The serving pass of the trained quantizer: assign every vector to
    its nearest trained centroid — one broadcast crossJoin + integer
    argmin, no shuffle (similarity.kmeans_assign). Returns (vec_id, cid,
    d2) with d2 the exact integer squared distance, so the assignment AND
    its margin are oracle-verified."""
    return similarity.kmeans_assign(_t(spark, sf, "embeddings"))


def q_cluster_kmeans_sampled(spark, sf):
    """The documented 100 TB trained-tier shape, end-to-end: Lloyd's fit
    on a deterministic hash-membership SAMPLE (md5 'kms:' namespace, mod
    4) with k derived from the FULL corpus count, then one serving pass
    assigning the whole collection to the sampled centroids. Output is
    the per-cell audit of that full assignment — member count and exact
    integer d2 mass — joined to the sampled centroids' integer digests,
    so the sampled FIT and the full ASSIGN are both value-verified
    (similarity.kmeans_fit_sampled + kmeans_assign)."""
    emb = _t(spark, sf, "embeddings")
    # the fit loop's driver-side rows feed the assign kernel closure AND
    # the digest relation — no createDataFrame+collect round-trip (r12)
    rows = similarity._kmeans_fit_sampled_rows(emb, sample_mod=4)
    fit = spark.createDataFrame(rows, "cid bigint, cent array<bigint>, n bigint")
    asg = similarity.kmeans_assign(emb, centroids=rows)
    cells = asg.groupBy("cid").agg(
        F.count("*").alias("n"), F.sum("d2").alias("d2_sum")
    )
    digest = fit.select(
        "cid",
        F.aggregate(
            F.transform("cent", lambda x: F.abs(x)),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("cent_l1"),
        F.col("cent")[0].alias("cent_d0"),
    )
    return cells.join(digest, "cid")


def q_event_transitions(spark, sf):
    """Path analysis: within-session next-event transition matrix with
    per-from-state shares in exact integer ppm
    (analytics.event_transitions) — the previous->current page relation
    the reference consumes event-by-event through `page.last_page_id`
    (UserJumpDetailApp.java:72-80), materialized as the aggregate
    serving table."""
    return analytics.event_transitions(_t(spark, sf, "events"))


def q_event_next_topk(spark, sf):
    """Markov next-event recommendation over the transition matrix
    (analytics.event_next_topk, VERDICT r10 task 8): per from-state the
    top-3 next events by exact-ppm share, ties to to_type — the serving
    consumer of event_transitions, and the aggregate-side view of the
    reference's previous->current jump inspection
    (UserJumpDetailApp.java:72-80)."""
    return analytics.event_next_topk(_t(spark, sf, "events"))


def q_skew_hot_join(spark, sf):
    """Skewed-key join on the driver surface: ~90% of orders deterministically
    remapped onto ONE hot customer, then a merge-hinted (never-broadcast)
    join to customer + revenue aggregation — the plan shape AQE skew-join
    splitting owns at 100 TB (scale.hot_customer_revenue; split firing is
    plan-pinned under forced thresholds in tests/test_explain.py)."""
    orders, customer = _t(spark, sf, "orders", "customer")
    return scale.hot_customer_revenue(orders, customer)


def _kmeans_model(spark, sf):
    """The shared trained quantizer of every serving query: the
    deterministic sampled fit (md5-membership sample, hash-rank seeding,
    int64 Lloyd — a pure function of the corpus), computed INLINE per
    invocation. Until r10 this persisted the fit under
    spark-warehouse/models keyed on the corpus (path, size, mtime) and
    reloaded it on later invocations; r11 removed the cross-run cache —
    every bench/oracle invocation now computes from the parquet inputs
    alone, and the fit result is a k-row driver-local relation anyway
    (bounded metadata), so all in-query consumers reuse it without any
    persisted state. Production deployments persist the same table with
    write.parquet and serve it through kmeans_assign(centroids=) /
    kmeans_assigning_writer — that path is library surface, exercised by
    tests, not by the bench. Returns (embeddings, centroids) where
    centroids is the k-row model as a driver-side (cid, cent, n) list
    (r12): the fit loop already holds those rows, and every consumer
    here feeds them straight into an assignment kernel closure —
    kmeans_assign accepts the list, skipping a createDataFrame+collect
    round-trip per serving query."""
    emb = _t(spark, sf, "embeddings")
    cent = similarity._kmeans_fit_sampled_rows(emb, sample_mod=4)
    return emb, cent


def _nb_model(spark, sf):
    """The trained NB quality classifier shared by its serving queries —
    the `_kmeans_model` shape applied to text: the deterministic fit
    (gate labels -> vocab log-odds, a pure function of the corpus),
    computed INLINE per invocation and materialized lazily (the model is
    vocabulary-sized — Zipf-small — so the checkpoint is cheap and every
    in-query consumer reads one computation of it). The r10 cross-run
    parquet cache under spark-warehouse/models is gone (r11): every
    bench/oracle invocation computes from the parquet inputs alone.
    Production persists the same table with write.parquet and serves it
    through nb_model_score / nb_gating_writer — library surface, not the
    bench path. Returns (documents, model)."""
    docs = _t(spark, sf, "documents")
    model = text.nb_quality_fit(docs).localCheckpoint(eager=False)
    return docs, model


def q_quality_nb_fit(spark, sf):
    """TRAINED quality classifier, fit face (VERDICT r10 task 4): the
    full NB model table — per-token positive/negative counts and
    add-1-smoothed log-likelihood ratio in exact int64 ppm, plus the
    prior row — distilled from the Gopher gate as weak supervision
    (text.nb_quality_fit). The oracle replays gates -> labels -> vocab
    counts -> smoothed ratios from first principles, so the FIT ITSELF
    is value-verified, not just its use (the kmeans_fit discipline)."""
    model = text.nb_quality_fit(_t(spark, sf, "documents"))
    return model.select(
        "token", "ct_pos", "ct_neg",
        (F.col("lr") * 1000000).cast("bigint").alias("lr_ppm"),
    )


def q_quality_nb_scores(spark, sf):
    """TRAINED quality classifier, serve face: per-doc NB log-odds score
    from the PERSISTED model table (`_nb_model` cache — fit once, score
    every batch), pure int64 sums, with the classifier verdict and the
    teacher gate label side-by-side so their agreement is itself
    oracle-audited (text.nb_quality_scores)."""
    docs, model = _nb_model(spark, sf)
    return text.nb_quality_scores(docs, model=model)


def q_cluster_kmeans_serve(spark, sf):
    """Fit-once / SERVE-MANY — the 100 TB deployment shape of the trained
    tier (VERDICT r09 #2): the sampled fit is persisted as a k-row parquet
    model table (first invocation only — the `_kmeans_model` cache), and
    every serving invocation runs ASSIGN-ONLY from the stored centroids
    (similarity.kmeans_assign `centroids=`, its first driver use): one
    k-row model read + one pass over the collection, zero training cost.
    The fit is hash-deterministic, so persisted == recomputed and the
    oracle replays it from first principles — the stored model is a CACHE
    of a pure function, never a source of truth the oracle can't see.
    Output is the per-cell serving audit (cid, n, d2_sum), the assign-side
    subset of cluster_kmeans_sampled's columns.

    Production twin: streaming.sinks.kmeans_assigning_writer serves
    micro-batches from the same persisted table; this query is its batch
    face on the driver surface."""
    emb, cent = _kmeans_model(spark, sf)
    asg = similarity.kmeans_assign(emb, centroids=cent)
    return asg.groupBy("cid").agg(
        F.count("*").alias("n"), F.sum("d2").alias("d2_sum")
    )


def q_dedup_embedding_served(spark, sf):
    """The serve-MANY half of fit-once/serve-many: a SECOND consumer of
    the same persisted model table `_kmeans_model` caches — embedding
    near-dup detection routed through the stored centroids (assign-only,
    then the cell-bounded pairwise cosine of dedup.embedding_near_dups).
    One trained quantizer, many serving workloads (cell audit, near-dup,
    and the streaming kmeans_assigning_writer) — the deployment shape
    where training cost amortizes across every downstream job instead of
    recurring per query (contrast q_dedup_embedding_trained, the
    oracle-tier form that re-fits inline)."""
    emb, cent = _kmeans_model(spark, sf)
    # label + vector from ONE assignment pass (carry=) — no relabel join
    relabeled = similarity.kmeans_assign(
        emb, centroids=cent, carry=("embedding",)
    ).select("vec_id", "embedding", F.col("cid").alias("label")).localCheckpoint(
        eager=False
    )  # near-dup reads it twice (cell-split decision + pairs); one assign pass
    return dedup.embedding_near_dups(relabeled, threshold=0.35, max_cell_rows=2000)


def q_dedup_embedding_trained(spark, sf):
    """Embedding near-dup over TRAINED cells — the full production
    pipeline (train -> assign -> cell-bounded pairwise cosine) instead of
    the testdata's fixed 10-label quantizer whose linear cell growth was
    the measured quadratic failure mode (BENCH_SF10.md): auto-k keeps
    E[cell] ~ 100 until K_MAX bounds the assignment cost, after which the
    max_cell_rows=2000 sub-split owns cell bounding — the two knobs
    compose so BOTH the router and the per-cell matmul stay linear; the
    cap never binds at test SFs (output-identical, pinned by test)
    (similarity.kmeans_assign + dedup.embedding_near_dups)."""
    emb = _t(spark, sf, "embeddings")
    # label + vector from ONE assignment pass (carry=) — no relabel join
    relabeled = similarity.kmeans_assign(emb, carry=("embedding",)).select(
        "vec_id", "embedding", F.col("cid").alias("label")
    ).localCheckpoint(eager=False)  # consumers read it twice; one assign pass
    return dedup.embedding_near_dups(relabeled, threshold=0.35, max_cell_rows=2000)


def q_sim_topk_ivf_pq(spark, sf):
    """The COMPOSED trained ANN serving tier (VERDICT r10 task 1) —
    IVFADC proper: trained k-means cells route each query to nprobe=2
    cells, the broadcast ADC table scores ONLY those cells' members from
    their m=16 6-bit PQ codes, and the corpus-sized shortlist
    (pq_auto_rerank) is re-scored exact (similarity.ivf_pq_topk) — while
    the oracle replays fit + routing + codes + ADC + rerank from first
    principles. Self-contained: the r11 round removed the cross-run
    model cache, so the quantizer is fit INLINE from one shared corpus
    aggregate (see the centroids=None note below); the fit parameters
    match the other trained-tier queries, so the model is the same one
    they compute."""
    # centroids=None: ivf_pq_topk's self-contained path folds the auto-k
    # full count, the sample-guard count and the auto-rerank sizing into
    # ONE corpus aggregate; handing in a pre-fit table would re-count the
    # corpus for rerank sizing (r11 — the parameters are identical, so
    # the fit and every downstream stage are bit-identical)
    emb = _t(spark, sf, "embeddings")
    return similarity.ivf_pq_topk(emb, QUERY_IDS)


def q_a19_cjk_dictionary(spark, sf):
    """A19 over REAL CJK text (VERDICT r10 task 2): the dictionary-BMM
    segmenter tier driver-verified on actual Chinese strings — the
    reference segments Chinese unconditionally (utils/KeywordUtil.java:
    13-35, IK analyzer), while testdata's 'zh' docs are ASCII, so this
    query DERIVES a deterministic CJK corpus inside the query: each
    doc_id picks three words from the pinned sorted cjk.DEFAULT_LEXICON
    by modular index plus one cjk.AMBIGUITY_PROBES string and
    concatenates them WITHOUT delimiters. Random-word junctions alone
    measured ZERO FMM/BMM divergence on this lexicon, so the probes pin
    every disambiguation branch: backward wins (研究生命科学,
    排行榜单), FORWARD wins (广大数据), junction merge into a longer
    word (小米手机), and the empty probe (plain concatenation) —
    2500/5000 sf0.1 docs diverge, 833 resolve forward. The registered
    dictionary UDTF
    (text.register_split_words(segmenter='dictionary'), the same LATERAL
    shape as KeywordStatsApp.java:55-61) segments each phrase; the
    output is the RAW per-document segmentation (doc_id, pos, word) —
    the strongest checkable artifact — which the oracle replays with a
    recursive-CTE BMM over the identical literal lexicon (FMM walk +
    backward walk + the fewer-tokens/fewer-singletons/backward-wins
    rule), both sides generated from the one Python constant."""
    session.configure(spark)
    text.register_split_words(spark, segmenter="dictionary")
    _cjk_phrases(spark, sf).createOrReplaceTempView("cjk_phrases_a19")
    # same REPARTITION rationale as q_a19_udtf_lateral: the per-row Python
    # UDTF must not run at file-count parallelism
    nsp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.sql(f"""
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, word
        FROM (SELECT /*+ REPARTITION({nsp}) */ doc_id, phrase
              FROM cjk_phrases_a19) p,
             LATERAL split_words(phrase)
    """)


def _cjk_phrases(spark, sf):
    """The derived deterministic CJK corpus shared by the segmenter twins
    (see q_a19_cjk_dictionary for the construction rationale)."""
    from flinkproject_spark.operators import cjk

    words = sorted(cjk.DEFAULT_LEXICON)
    n = len(words)
    pn = len(cjk.AMBIGUITY_PROBES)
    arr = F.array(*[F.lit(w) for w in words])
    parr = F.array(*[F.lit(p) for p in cjk.AMBIGUITY_PROBES])
    docs = _t(spark, sf, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.element_at(arr, (F.col("doc_id") % n + 1).cast("int")),
            F.element_at(arr, ((F.col("doc_id") * 7 + 3) % n + 1).cast("int")),
            F.element_at(parr, (F.col("doc_id") % pn + 1).cast("int")),
            F.element_at(arr, ((F.col("doc_id") * 13 + 5) % n + 1).cast("int")),
        ).alias("phrase"),
    )


def q_a19_cjk_dictionary_arrow(spark, sf):
    """The Arrow-path twin of q_a19_cjk_dictionary (VERDICT r11 task 6):
    the SAME derived CJK corpus and the SAME dictionary-BMM segmentation
    (cjk.segment), but the Python boundary is ONE mapInArrow over the
    phrase batches instead of a per-row LATERAL UDTF — the guide-§4 form
    whose cost the UDTF tier deliberately declines (its pickled-vs-Arrow
    A/B is recorded in text.register_split_words). Identical output
    (doc_id, pos, word); the oracle replays the same recursive-CTE BMM.
    Keeping BOTH queries green prices the boundary both ways at the
    driver surface: the UDTF row path is the declared reference-parity
    shape, this is the throughput shape."""
    session.configure(spark)
    nsp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    phrases = _cjk_phrases(spark, sf).repartition(nsp)

    def seg_batches(batches):
        import pyarrow as pa

        from flinkproject_spark.operators.cjk import segment

        schema = pa.schema(
            [("doc_id", pa.int64()), ("pos", pa.int64()), ("word", pa.string())]
        )
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            phs = batch.column("phrase").to_pylist()
            out_id, out_pos, out_w = [], [], []
            for did, ph in zip(ids, phs):
                if not ph:
                    continue
                toks = segment(ph)
                out_id.extend([did] * len(toks))
                out_pos.extend(range(len(toks)))
                out_w.extend(toks)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, type=pa.int64()),
                    pa.array(out_pos, type=pa.int64()),
                    pa.array(out_w, type=pa.string()),
                ],
                schema=schema,
            )

    return phrases.mapInArrow(
        seg_batches, "doc_id bigint, pos bigint, word string"
    )


def q_ivf_pq_recall_report(spark, sf):
    """Recall@10 of the composed IVF x PQ tier against the exact
    brute-force ground truth — the calibration row that certifies what
    the composition trades for its cell-pruned compressed scan (the
    same report shape as ann_recall_report / pq_recall_report, both
    pipelines DuckDB-reproducible)."""
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    emb = _t(spark, sf, "embeddings")
    # shared normalized intermediate for the IVFxPQ rerank stage's query
    # and candidate subtrees (r12, VERDICT r11 task 3)
    e = similarity.with_norm(emb).localCheckpoint(eager=False)
    # Exact arm: the vectorized exact kernel (see q_ann_recall_report).
    # Overlap the independent arms (guide §2.6): the exact ground truth
    # does not depend on the fit, but ivf_pq_topk's inline fit blocks the
    # driver for its aggregate + seed + n_iter Lloyd collects — so the
    # exact arm is materialized (lazily checkpointed, then counted) from
    # a side thread while those fit jobs run, instead of serializing a
    # full exact pass after them. Values are unchanged: the final plan
    # reads the checkpointed exact result.
    exact = similarity.cosine_topk_vectorized(
        emb, QUERY_IDS
    ).localCheckpoint(eager=False)
    # The exact arm runs under its own job group, so a failing fit
    # cancels it (and any job it has yet to submit) and raises at once,
    # instead of waiting out the whole exact pass at the pool's exit.
    sc = spark.sparkContext
    group = f"ivf_pq_recall_report.exact.{uuid.uuid4().hex}"

    def count_exact() -> int:
        sc.setJobGroup(group, "ivf_pq_recall_report: exact arm", interruptOnCancel=True)
        return exact.count()

    with ThreadPoolExecutor(max_workers=1) as pool:
        f_exact = pool.submit(count_exact)
        try:
            # centroids=None for the same single-aggregate reason as
            # q_sim_topk_ivf_pq; identical fit parameters, identical output
            approx = similarity.ivf_pq_topk(emb, QUERY_IDS, normed=e)
        except BaseException:
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
            raise
        f_exact.result()  # surface any exact-arm failure loudly
    out = similarity.recall_at_k(approx, exact, k=10)
    return out.select("query_id", F.round("recall", 6).alias("recall"))


# Round-12 correctness window (the rotation rule documented in VERIFIED.md:
# queries whose implementation or oracle text changed this round rotate IN,
# then the oldest-evidence cohort). First: the new Arrow CJK twin and the 24
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER is load-bearing: the driver verifies the first 50 entries
    # against the DuckDB oracles. A query whose engine code changes moves
    # to the front (VERIFIED.md, tools/verified_rounds.py).
    return {
        "corpus_pipeline_v2": q_corpus_pipeline_v2,
        "corpus_pipeline_v3": q_corpus_pipeline_v3,
        "corpus_pipeline_v5": q_corpus_pipeline_v5,
        "token_budget_pack": q_token_budget_pack,
        "text_quality": q_text_quality,
        "quality_deciles": q_quality_deciles,
        "corpus_profile": q_corpus_profile,
        "corpus_by_cluster": q_corpus_by_cluster,
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "corpus_pack": q_corpus_pack,
        "corpus_curriculum": q_corpus_curriculum,
        "dedup_incremental": q_dedup_incremental,
        "corpus_mix": q_corpus_mix,
        "text_bpe_tokens": q_text_bpe_tokens,
        "hybrid_search": q_hybrid_search,
        "a19_cjk_dictionary_arrow": q_a19_cjk_dictionary_arrow,
        "sim_topk_ivf_pq": q_sim_topk_ivf_pq,
        "ivf_pq_recall_report": q_ivf_pq_recall_report,
        "a19_cjk_dictionary": q_a19_cjk_dictionary,
        "quality_nb_fit": q_quality_nb_fit,
        "quality_nb_scores": q_quality_nb_scores,
        "cluster_kmeans": q_cluster_kmeans,
        "cluster_kmeans_assign": q_cluster_kmeans_assign,
        "cluster_kmeans_sampled": q_cluster_kmeans_sampled,
        "cluster_kmeans_serve": q_cluster_kmeans_serve,
        "dedup_embedding_trained": q_dedup_embedding_trained,
        "dedup_embedding_served": q_dedup_embedding_served,
        "dedup_semantic_trained": q_dedup_semantic_trained,
        "sim_topk_ivf_trained": q_sim_topk_ivf_trained,
        "cluster_topics": q_cluster_topics,
        "ann_recall_report": q_ann_recall_report,
        "pq_recall_report": q_pq_recall_report,
        "sim_topk_pq": q_sim_topk_pq,
        "minhash_pr_report": q_minhash_pr_report,
        "events_distinct_hll": q_events_distinct_hll,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "pagerank": q_pagerank,
        "value_quantiles_hist": q_value_quantiles_hist,
        "dedup_spans": q_dedup_spans,
        "dedup_spans_apply": q_dedup_spans_apply,
        "dedup_spans_intradoc": q_dedup_spans_intradoc,
        "event_freq_cms": q_event_freq_cms,
        "text_tfidf": q_text_tfidf,
        "dedup_minhash_precision": q_dedup_minhash_precision,
        "dedup_ngram_blocked": q_dedup_ngram_blocked,
        "copurchase": q_copurchase,
        "text_logprob": q_text_logprob,
        "text_bigram_logprob": q_text_bigram_logprob,
        "text_dsir": q_text_dsir,
        "dedup_srp": q_dedup_srp,
        "dedup_srp_scaled": q_dedup_srp_scaled,
        "dedup_chunks": q_dedup_chunks,
        "dedup_chunks_apply": q_dedup_chunks_apply,
        "dedup_containment": q_dedup_containment,
        "dedup_embedding": q_dedup_embedding,
        "dedup_semantic": q_dedup_semantic,
        "ngram_novelty": q_ngram_novelty,
        "text_fingerprint": q_text_fingerprint,
        "mm_frame_sample": q_mm_frame_sample,
        "mm_resize": q_mm_resize,
        "event_next_topk": q_event_next_topk,
        "mm_features": q_mm_features,
        "text_gopher": q_text_gopher,
        "contamination_bloom": q_contamination_bloom,
        "urgent_revenue": q_urgent_revenue,
        "events_zorder": q_events_zorder,
        "product_stats_approx": q_product_stats_approx,
        "dedup_minhash_xx": q_dedup_minhash_xx,
        "product_stats": q_product_stats,
        "dedup_exact": q_dedup_exact,
        "sim_topk_vectorized": q_sim_topk_vectorized,
        "sim_topk_ivf": q_sim_topk_ivf,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "text_token_stats": q_text_token_stats,
        "text_corpus_summary": q_text_corpus_summary,
        "text_langid": q_text_langid,
        "session_stats": q_session_stats,
        "mm_decode": q_mm_decode,
        "asof_last_order": q_asof_last_order,
        "gmv_rollup": q_gmv_rollup,
        "funnel_windowed": q_funnel_windowed,
        "daily_anomalies": q_daily_anomalies,
        "daily_anomalies_dense": q_daily_anomalies_dense,
        "order_value_percentiles_approx": q_order_value_percentiles_approx,
        "skew_hot_join": q_skew_hot_join,
        "event_transitions": q_event_transitions,
        "a10_unique_visits": q_a10_unique_visits,
        "a11_is_new_flag": q_a11_is_new_flag,
        "a12_bounce": q_a12_bounce,
        "a12_bounce_strict": q_a12_bounce_strict,
        "a12_bounce_cep": q_a12_bounce_cep,
        "a13_sessionize": q_a13_sessionize,
        "a15_route_config": q_a15_route_config,
        "a17_topn_gmv_brand": q_a17_topn_gmv_brand,
        "a18_gmv_day_range": q_a18_gmv_day_range,
        "a19_keyword_stats": q_a19_keyword_stats,
        "a19_udtf_lateral": q_a19_udtf_lateral,
        "a19_udtf_subword": q_a19_udtf_subword,
        "a20_sql_province_stats": q_a20_sql_province_stats,
        "b4_cdc_roundtrip": q_b4_cdc_roundtrip,
        "province_stats": q_province_stats,
        "contamination": q_contamination,
        "corpus_shuffle": q_corpus_shuffle,
        "cep_followedby": q_cep_followedby,
        "corpus_zipf": q_corpus_zipf,
        "split_leakage": q_split_leakage,
        "embedding_covariance": q_embedding_covariance,
        "a1_project_orders": q_a1_project_orders,
        "a2_filter_events": q_a2_filter_events,
        "a3_explode_words": q_a3_explode_words,
        "a4_split_routes": q_a4_split_routes,
        "a5_union_streams": q_a5_union_streams,
        "a6_visitor_stats": q_a6_visitor_stats,
        "a6_visitor_stats_4d": q_a6_visitor_stats_4d,
        "a7_window_distinct": q_a7_window_distinct,
        "a8_interval_join": q_a8_interval_join,
        "a8_payment_wide": q_a8_payment_wide,
        "a9_order_wide": q_a9_order_wide,
        "a9_product_wide": q_a9_product_wide,
        "funnel": q_funnel,
        "retention_cohorts": q_retention_cohorts,
        "order_prorate": q_order_prorate,
        "text_chunks": q_text_chunks,
        "corpus_split": q_corpus_split,
        "corpus_sample": q_corpus_sample,
        "text_repetition": q_text_repetition,
        "text_entropy": q_text_entropy,
        "cluster_assign": q_cluster_assign,
        "dedup_normalized": q_dedup_normalized,
        "sim_quantize": q_sim_quantize,
        "corpus_cube": q_corpus_cube,
        "event_type_pivot": q_event_type_pivot,
        "dedup_survivors": q_dedup_survivors,
        "running_spend": q_running_spend,
        "topn_per_nation": q_topn_per_nation,
        "sliding_visitor_stats": q_sliding_visitor_stats,
        "order_value_percentiles": q_order_value_percentiles,
        "scd2_order_state": q_scd2_order_state,
        "a8_interval_join_outer": q_a8_interval_join_outer,
        "sim_topk_ivf_nprobe": q_sim_topk_ivf_nprobe,
        "text_redact_pii": q_text_redact_pii,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

MONEY = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
REVENUE = ("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
           "CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)")
FMT = "%Y-%m-%d %H:%M:%S"
H64 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"

_STOP_OR = " OR ".join(f"t = '{s}'" for s in text.STOPWORDS)

_SHINGLES = """
sh AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_transform(range(1, len(x)-1),
                       i -> x[i] || ' ' || x[i+1] || ' ' || x[i+2])) AS shingles
  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS x FROM documents)
  WHERE len(x) >= 3
)"""


def _minhash_core(num_hashes: int = 16, bands: int = 4) -> str:
    """CTE block `ex -> based -> mh -> banded -> cand` for an arbitrary
    (num_hashes, bands) LSH configuration — mirrors minhash_signatures +
    lsh_candidate_pairs. Assumes a preceding `sh` CTE (_SHINGLES)."""
    from flinkproject_spark.functions import MINHASH_P, minhash_coeffs

    rpb = num_hashes // bands
    mins = ",\n    ".join(
        "min(({a} * hb + {b}) % {p}) AS h{i}".format(
            a=minhash_coeffs(i)[0], b=minhash_coeffs(i)[1], p=MINHASH_P, i=i
        )
        for i in range(num_hashes)
    )
    band_sqls = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM mh".format(
            b=b,
            concat=" || ',' || ".join(f"h{b*rpb+r}::VARCHAR" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
based AS (SELECT doc_id, ({H64.format(x='s')} % {MINHASH_P}) AS hb FROM ex),
mh AS (
  SELECT doc_id,
    {mins}
  FROM based GROUP BY doc_id
),
banded AS (
{band_sqls}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def _minhash_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    return f"""
WITH {_SHINGLES.strip()},
{_minhash_core(num_hashes, bands)}
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE, 6) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = doc_a
JOIN sh sb ON sb.doc_id = doc_b
WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      / (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE >= {threshold}
"""


def _minhash_pr_report_sql(
    num_hashes: int = dedup.PRECISION_NUM_HASHES,
    bands: int = dedup.PRECISION_BANDS,
    threshold: float = dedup.PRECISION_THRESHOLD,
    max_df: int = dedup.PR_MAX_DF,
) -> str:
    """Oracle twin of minhash_precision_recall: exact ground truth via the
    inverted shingle index with the same df cap (stop shingles with
    df > max_df dropped from postings AND set sizes; 0 dropped at every
    test SF), LSH candidates via _minhash_core, full-outer metrics plus
    the dropped-shingle count."""
    return f"""
WITH {_SHINGLES.strip()},
{_minhash_core(num_hashes, bands)},
exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
stop AS (SELECT s FROM exd GROUP BY s HAVING COUNT(*) > {max_df}),
kept AS (SELECT doc_id, s FROM exd WHERE s NOT IN (SELECT s FROM stop)),
nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN nsh na ON na.doc_id = doc_a
  JOIN nsh nb ON nb.doc_id = doc_b
  WHERE inter::DOUBLE / (na.n_sh + nb.n_sh - inter)::DOUBLE >= {threshold}
),
joined AS (
  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         t.doc_a IS NOT NULL AS is_true,
         c.doc_a IS NOT NULL AS is_cand
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(SUM(CASE WHEN is_true THEN 1 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_cand THEN 1 END) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN is_true AND is_cand THEN 1 END) AS BIGINT) AS n_hit,
       round(SUM(CASE WHEN is_true AND is_cand THEN 1 END)::DOUBLE
             / SUM(CASE WHEN is_true THEN 1 END)::DOUBLE, 6) AS recall,
       round(SUM(CASE WHEN is_true AND is_cand THEN 1 END)::DOUBLE
             / SUM(CASE WHEN is_cand THEN 1 END)::DOUBLE, 6) AS precision,
       (SELECT COUNT(*)::BIGINT FROM stop) AS n_dropped_shingles
FROM joined
"""


def _xx_certificate_sql(threshold: float = 0.5) -> str:
    """Oracle twin of dedup.minhash_xx_certificate: recompute the exact
    truth-pair count independently; `sound` and `exact_dup_recall_ok` are
    mathematical invariants of ANY correctly-wired MinHash pipeline
    (emitted pairs pass an exact-Jaccard filter; identical shingle sets
    collide in every band), so the oracle asserts TRUE."""
    return f"""
WITH {_SHINGLES.strip()},
exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
nsh AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN nsh na ON na.doc_id = doc_a
  JOIN nsh nb ON nb.doc_id = doc_b
  WHERE inter::DOUBLE / (na.n_sh + nb.n_sh - inter)::DOUBLE >= {threshold}
)
SELECT COUNT(*)::BIGINT AS n_true, TRUE AS sound, TRUE AS exact_dup_recall_ok
FROM truth
"""


def _clusters_sql() -> str:
    """Transitive closure of the MinHash pair graph as a DuckDB recursive
    CTE — the cross-engine twin of the Spark iterative label propagation."""
    pairs_sql = _minhash_sql().strip()
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pairs_sql}) p
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""


def _bloom_sql() -> str:
    """DuckDB twin of q_contamination_bloom: the identical deterministic
    filter (hash64 shingle ids -> Kirsch-Mitzenmacher probe positions ->
    membership = all k positions present) via the position-set relational
    encoding — bit-for-bit the bitset the Spark production form probes.
    The AUTO filter size regenerates from the same integer rule the
    operator uses (functions.bloom_auto_m): GREATEST(floor, 13 * |bsh|)
    as a scalar CTE threaded through the position math."""
    k = K.BLOOM_K_DEFAULT
    pos = "((shid % mb.m) + i * (1 + ((shid >> 30) % (mb.m - 1)))) % mb.m"
    sh3 = (
        "unnest(list_transform(range(1, len(x)-1), "
        "i -> x[i] || ' ' || x[i+1] || ' ' || x[i+2]))"
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS x
           FROM documents WHERE doc_id % 37 <> 0),
tsh AS (SELECT DISTINCT doc_id, {K.duck_hash64('sh')} AS shid
        FROM (SELECT doc_id, {sh3} AS sh FROM t WHERE len(x) >= 3)),
b AS (SELECT string_split(text, ' ') AS x
      FROM documents WHERE doc_id % 37 = 0),
bsh AS (SELECT DISTINCT {K.duck_hash64('sh')} AS shid
        FROM (SELECT {sh3} AS sh FROM b WHERE len(x) >= 3)),
mb AS (SELECT GREATEST({K.BLOOM_M_DEFAULT},
                       {K.BLOOM_AUTO_FACTOR} * COUNT(*))::BIGINT AS m FROM bsh),
bpos AS (SELECT DISTINCT {pos} AS pos FROM bsh, mb, range({k}) r(i)),
tpr AS (SELECT doc_id, shid, {pos} AS pos FROM tsh, mb, range({k}) r(i)),
per AS (SELECT doc_id, shid,
               CASE WHEN COUNT(bp.pos) = {k} THEN 1 ELSE 0 END AS flagged
        FROM tpr tp LEFT JOIN bpos bp ON tp.pos = bp.pos GROUP BY 1, 2)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       round(CAST(SUM(flagged) AS DOUBLE) / COUNT(*), 4) AS flagged_pct
FROM per GROUP BY 1"""


def _simhash_sql() -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(32)
    )
    sig = " + ".join(f"(CASE WHEN b{b} > 0 THEN {2**b}::BIGINT ELSE 0 END)" for b in range(32))
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash >> {b*8}) & 255 AS bucket FROM sigs"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
hashed AS (SELECT doc_id, {H32.format(x='t')} AS h FROM toks),
bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM hashed GROUP BY doc_id
),
sigs AS (SELECT doc_id, {sig} AS simhash FROM bits),
banded AS (
{bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sig_a, b.simhash AS sig_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


_DOT = ("list_reduce(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i]::DOUBLE) * ({b}[i]::DOUBLE)), (x, y) -> x + y)")
_NORM = ("sqrt(list_reduce(list_transform(range(1, len({a}) + 1), "
         "i -> ({a}[i]::DOUBLE) * ({a}[i]::DOUBLE)), (x, y) -> x + y))")

def _zorder_sql(bits: int = 8) -> str:
    """Oracle twin of layout.zorder_cell_stats: the Morton interleave as
    the same shift/mask/shift sum, generated from the same bit loop."""
    terms = []
    for b in range(bits):
        terms.append(f"(((x >> {b}) & 1) << {2 * b})")
        terms.append(f"(((y >> {b}) & 1) << {2 * b + 1})")
    zkey = " + ".join(terms)
    return f"""
            WITH dims AS (
              SELECT user_id % 256 AS x,
                     dayofyear(CAST(ts AS DATE)) % 256 AS y
              FROM events),
            z AS (SELECT x, y, ({zkey}) >> {2 * bits - 8} AS zcell FROM dims)
            SELECT zcell::BIGINT AS zcell, COUNT(*)::BIGINT AS n,
                   MIN(x)::BIGINT AS x_min, MAX(x)::BIGINT AS x_max,
                   MIN(y)::BIGINT AS y_min, MAX(y)::BIGINT AS y_max
            FROM z GROUP BY zcell"""


def _hll_sql() -> str:
    """Oracle twin of relational.hll_distinct_report: same md5 registers,
    same integer-scaled harmonic sum (every term a whole number, so
    summation order is irrelevant in BOTH engines), same raw-HLL
    estimator constant injected as the identical double literal."""
    from flinkproject_spark.operators.relational import (
        HLL_LC_GATE, HLL_LC_TABLE, HLL_M, HLL_NUM, HLL_W,
    )

    wp1 = HLL_W + 1
    lc_list = "[" + ", ".join(repr(x) for x in HLL_LC_TABLE) + "]"
    return f"""
            WITH keys AS (
              SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS scope,
                     CAST(user_id AS VARCHAR) AS key
              FROM events),
            h AS (
              SELECT scope, key,
                     ('0x' || substr(md5('hll:' || key), 1, 15))::BIGINT AS x
              FROM keys),
            r AS (
              SELECT scope, key, x % {HLL_M} AS reg,
                     CASE WHEN (x // {HLL_M}) = 0 THEN {wp1}
                          ELSE {wp1} - length(bin(x // {HLL_M})) END AS rho
              FROM h),
            pt AS (SELECT scope, reg, MAX(rho) AS rho FROM r GROUP BY 1, 2),
            mg AS (SELECT '__all__' AS scope, reg, MAX(rho) AS rho
                   FROM pt GROUP BY 2),
            regs AS (SELECT * FROM pt UNION ALL SELECT * FROM mg),
            sums AS (
              SELECT scope,
                     SUM(CAST(power(2, {wp1} - rho) AS BIGINT)) AS s_hit,
                     COUNT(*) AS n_regs
              FROM regs GROUP BY 1),
            sk AS (
              SELECT scope, v_empty,
                     round(CASE WHEN v_empty > 0 AND raw <= {HLL_LC_GATE!r}
                                THEN {float(HLL_M)!r} * ({lc_list})[v_empty]
                                ELSE raw END, 4) AS hll_est
              FROM (
                SELECT scope, ({HLL_M} - n_regs) AS v_empty,
                       {HLL_NUM!r} /
                       (s_hit + ({HLL_M} - n_regs)
                                * CAST(power(2, {wp1}) AS BIGINT))::DOUBLE AS raw
                FROM sums) t),
            ex AS (
              SELECT scope, COUNT(DISTINCT key) AS exact_u FROM keys GROUP BY 1
              UNION ALL
              SELECT '__all__', COUNT(DISTINCT key) FROM keys)
            SELECT s.scope,
                   CAST(e.exact_u AS BIGINT) AS exact_u,
                   CAST(s.v_empty AS BIGINT) AS v_empty,
                   s.hll_est,
                   round(abs(s.hll_est - e.exact_u) / e.exact_u, 4) AS rel_err
            FROM sk s JOIN ex e USING (scope)"""


_KM_N_ITER = 3  # similarity.kmeans_fit default, unrolled in the oracle


def _kmeans_ctes(
    n_iter: int = _KM_N_ITER, target: int = 100, sample_mod: int | None = None
) -> str:
    """The k-means fit as SQL CTEs — Lloyd's unrolled, one (dist, assign,
    per-dim-mean, centroid) block per iteration, all arithmetic the same
    exact int64 the operator uses so every intermediate is bit-identical.
    k regenerated from COUNT(*) exactly as similarity.kmeans_auto_k does,
    so the auto-k adaptivity is itself oracle-verified (the same
    discipline as _srp_sql_adaptive). `a{n_iter+1}` is the serving
    assignment against the final centroids.

    `sample_mod` replays similarity.kmeans_fit_sampled: the n_iter
    training passes run over the hash-membership sample (md5('kms:' ||
    vec_id) mod sample_mod = 0) while k stays derived from the FULL
    count and the serving pass covers the full collection — the sampled
    FIT is itself oracle-verified, not just its use."""
    train = "tr" if sample_mod else "q"
    parts = [
        ("q AS (SELECT vec_id, list_transform(embedding, "
         "v -> CAST(round(v::DOUBLE * 1000) AS BIGINT)) AS qv FROM embeddings)"),
        (f"kk AS (SELECT LEAST(256, GREATEST(2, CAST(ceil(COUNT(*) / {target}.0)"
         " AS BIGINT))) AS k FROM q)"),
    ]
    if sample_mod:
        parts.append(
            "tr AS (SELECT vec_id, qv FROM q WHERE "
            f"('0x'||substr(md5('kms:'||vec_id),1,15))::BIGINT % {sample_mod} = 0)"
        )
    parts += [
        (f"seeds AS (SELECT vec_id, qv, row_number() OVER (ORDER BY h, vec_id) - 1"
         " AS cid FROM (SELECT vec_id, qv, "
         f"('0x'||substr(md5('km:'||vec_id),1,15))::BIGINT AS h FROM {train}) "
         "QUALIFY row_number() OVER (ORDER BY h, vec_id) <= (SELECT k FROM kk))"),
        "cent0 AS (SELECT cid, qv AS cent FROM seeds)",
    ]
    for i in range(1, n_iter + 2):  # +1 extra assignment = the serving pass
        src = train if i <= n_iter else "q"
        parts += [
            (f"d{i} AS (SELECT v.vec_id, v.qv, c.cid, "
             "list_sum(list_transform(range(1, len(v.qv)+1), "
             "j -> (v.qv[j]-c.cent[j])*(v.qv[j]-c.cent[j]))) AS d2 "
             f"FROM {src} v CROSS JOIN cent{i - 1} c)"),
            (f"a{i} AS (SELECT vec_id, qv, cid, d2 FROM d{i} QUALIFY "
             "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)"),
        ]
        if i <= n_iter:
            parts += [
                (f"cd{i} AS (SELECT cid, t.i AS pos, SUM(qv[t.i]) AS s, "
                 f"COUNT(*) AS n FROM a{i}, "
                 "unnest(generate_series(1, len(qv))) AS t(i) GROUP BY 1, 2)"),
                (f"cent{i} AS (SELECT cid, array_agg(CAST(floor(s::DOUBLE / n) "
                 f"AS BIGINT) ORDER BY pos) AS cent FROM cd{i} GROUP BY cid)"),
            ]
    return ",\n            ".join(parts)


def _kmeans_fit_sql() -> str:
    n = _KM_N_ITER
    return f"""
            WITH {_kmeans_ctes()},
            pop AS (SELECT cid, COUNT(*) AS n FROM a{n} GROUP BY 1)
            SELECT c.cid::BIGINT AS cid, p.n::BIGINT AS n,
                   CAST(list_sum(list_transform(c.cent, x -> abs(x))) AS BIGINT)
                     AS cent_l1,
                   c.cent[1]::BIGINT AS cent_d0
            FROM cent{n} c JOIN pop p USING (cid)"""


def _histq_sql(n_bins: int = 256, pcts: tuple[int, ...] = (50, 90, 99)) -> str:
    """relational.histogram_quantile_report twin: same integer binning
    (`//` = Spark `div`), same sum-merged '__all__' counters, same
    100*cum >= n*p rank rule — every emitted edge an exact integer."""
    sel_cols = ", ".join(
        f"MIN(CASE WHEN 100 * cum >= n * {p} THEN bin END) AS b{p}" for p in pcts
    )
    out_cols = ", ".join(
        f"CAST(lo + b{p} * ((hi - lo) // {n_bins} + 1) AS BIGINT) AS q{p}_edge"
        for p in pcts
    )
    return f"""
            WITH base AS (SELECT event_type AS scope,
                                 CAST(round(value::DOUBLE * 1000) AS BIGINT) AS q
                          FROM events
                          WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)),
            bounds AS (SELECT MIN(q) AS lo, MAX(q) AS hi FROM base),
            binned AS (SELECT scope, (q - lo) // ((hi - lo) // {n_bins} + 1) AS bin
                       FROM base, bounds),
            pt AS (SELECT scope, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
            counters AS (SELECT * FROM pt
                         UNION ALL
                         SELECT '__all__', bin, SUM(c) FROM pt GROUP BY 2),
            cum AS (SELECT scope, bin, c,
                           SUM(c) OVER (PARTITION BY scope ORDER BY bin) AS cum,
                           SUM(c) OVER (PARTITION BY scope) AS n
                    FROM counters),
            sel AS (SELECT scope, n, {sel_cols} FROM cum GROUP BY 1, 2)
            SELECT scope, CAST(n AS BIGINT) AS n, {out_cols}
            FROM sel, bounds"""


def _pagerank_sql(
    n_iter: int = 5, min_support: int = 2, max_basket: int = 64
) -> str:
    """analytics.pagerank unrolled: the co-purchase edge build, then one
    (contrib, rank) CTE pair per Jacobi step — every step pure int64
    with `//` integer division, the exact twin of Spark's `div`."""
    scale, base = 1_000_000, (15 * 1_000_000) // 100
    parts = [
        ("items AS (SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT "
         "l_orderkey, l_partkey, COUNT(*) OVER (PARTITION BY l_orderkey) "
         "AS basket FROM (SELECT DISTINCT l_orderkey, l_partkey FROM "
         f"lineitem)) WHERE basket <= {max_basket})"),
        ("p AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM items a "
         "JOIN items b ON a.l_orderkey = b.l_orderkey AND "
         "a.l_partkey < b.l_partkey "
         f"GROUP BY 1, 2 HAVING COUNT(*) >= {min_support})"),
        "edges AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p)",
        "deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY 1)",
        f"r0 AS (SELECT src AS node, CAST({scale} AS BIGINT) AS pr FROM deg)",
    ]
    for i in range(1, n_iter + 1):
        parts += [
            (f"c{i} AS (SELECT e.dst AS node, SUM(r.pr // d.degree) AS s "
             f"FROM edges e JOIN r{i - 1} r ON e.src = r.node "
             "JOIN deg d ON e.src = d.src GROUP BY 1)"),
            (f"r{i} AS (SELECT d.src AS node, CAST({base} + "
             "(COALESCE(c.s, 0) * 85) // 100 AS BIGINT) AS pr "
             f"FROM deg d LEFT JOIN c{i} c ON d.src = c.node)"),
        ]
    ctes = ",\n            ".join(parts)
    return f"""
            WITH {ctes}
            SELECT d.src::BIGINT AS part_id, d.degree::BIGINT AS degree,
                   r.pr::BIGINT AS pr_rank
            FROM deg d JOIN r{n_iter} r ON d.src = r.node"""


def _cluster_topics_sql(k: int = 10) -> str:
    """text.cluster_topics twin: the unrolled k-means serving assignment
    labels docs on doc_id = vec_id, then the text_tfidf arithmetic
    (ln-round-6, token tiebreak) per cell against the corpus df."""
    n = _KM_N_ITER
    return f"""
            WITH {_kmeans_ctes()},
            asg AS (SELECT vec_id, cid FROM a{n + 1}),
            docs AS (SELECT d.doc_id, a.cid, d.text
                     FROM documents d JOIN asg a ON d.doc_id = a.vec_id),
            tok AS (
              SELECT doc_id, cid, t
              FROM (SELECT doc_id, cid,
                           unnest(string_split_regex(text, '\\s+')) AS t
                    FROM docs)
              WHERE t <> ''),
            tf AS (SELECT cid, t, COUNT(*)::BIGINT AS tf
                   FROM tok GROUP BY 1, 2),
            dfreq AS (SELECT t, COUNT(*)::BIGINT AS df
                      FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
            nd AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM docs),
            scored AS (
              SELECT cid, t, tf, df,
                     round(tf * ln(n_docs / df), 6) AS tfidf
              FROM tf JOIN dfreq USING (t), nd)
            SELECT cid::BIGINT AS cid, t AS token, tf, df, tfidf,
                   CAST(rk AS BIGINT) AS rk
            FROM (SELECT *, row_number() OVER (PARTITION BY cid
                                               ORDER BY tfidf DESC, t) AS rk
                  FROM scored)
            WHERE rk <= {k}"""


def _kmeans_sampled_sql(sample_mod: int = 4) -> str:
    n = _KM_N_ITER
    return f"""
            WITH {_kmeans_ctes(sample_mod=sample_mod)},
            cells AS (SELECT cid, COUNT(*) AS n, SUM(d2) AS d2_sum
                      FROM a{n + 1} GROUP BY 1)
            SELECT p.cid::BIGINT AS cid, p.n::BIGINT AS n,
                   CAST(p.d2_sum AS BIGINT) AS d2_sum,
                   CAST(list_sum(list_transform(c.cent, x -> abs(x))) AS BIGINT)
                     AS cent_l1,
                   c.cent[1]::BIGINT AS cent_d0
            FROM cent{n} c JOIN cells p USING (cid)"""


def _kmeans_serve_sql(sample_mod: int = 4) -> str:
    """q_cluster_kmeans_serve twin: the persisted model is a cache of the
    deterministic sampled fit, so the oracle simply replays the fit
    (sampled CTEs) and the serving assignment — cells only, no digests."""
    n = _KM_N_ITER
    return f"""
            WITH {_kmeans_ctes(sample_mod=sample_mod)}
            SELECT cid::BIGINT AS cid, COUNT(*)::BIGINT AS n,
                   CAST(SUM(d2) AS BIGINT) AS d2_sum
            FROM a{n + 1} GROUP BY 1"""


def _kmeans_assign_sql() -> str:
    return f"""
            WITH {_kmeans_ctes()}
            SELECT vec_id::BIGINT AS vec_id, cid::BIGINT AS cid,
                   CAST(d2 AS BIGINT) AS d2
            FROM a{_KM_N_ITER + 1}"""


def _dedup_trained_sql(threshold: float = 0.35, sample_mod: int | None = None) -> str:
    """sample_mod=None replays the inline full fit (dedup_embedding_trained);
    sample_mod=4 replays the persisted sampled model the serving query
    loads (dedup_embedding_served) — persisted == recomputed because the
    fit is a pure function of the corpus."""
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    na = _NORM.format(a="a.embedding")
    nb = _NORM.format(a="b.embedding")
    return f"""
            WITH {_kmeans_ctes(sample_mod=sample_mod)},
            asg AS (SELECT vec_id, cid FROM a{_KM_N_ITER + 1})
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(({dot}) / (({na}) * ({nb})), 6) AS cosine
            FROM embeddings a JOIN asg sa ON a.vec_id = sa.vec_id
            JOIN asg sb ON sa.cid = sb.cid AND a.vec_id < sb.vec_id
            JOIN embeddings b ON b.vec_id = sb.vec_id
            WHERE round(({dot}) / (({na}) * ({nb})), 6) >= {threshold}"""


def _topk_trained_sql(k: int = 10) -> str:
    """Oracle twin of the trained-cell IVF probe: the unrolled k-means
    CTE chain supplies the assignment, then the same scored/rank shape
    as _topk_sql with both sides joined through it."""
    qids = ", ".join(str(i) for i in QUERY_IDS)
    dot = _DOT.format(a="q.embedding", b="c.embedding")
    qn = _NORM.format(a="q.embedding")
    cn = _NORM.format(a="c.embedding")
    return f"""
            WITH {_kmeans_ctes()},
            asg AS (SELECT vec_id, cid FROM a{_KM_N_ITER + 1}),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(({dot}) / (({qn}) * ({cn})), 6) AS cosine
              FROM embeddings q
              JOIN asg qa ON q.vec_id = qa.vec_id
              JOIN asg ca ON qa.cid = ca.cid
              JOIN embeddings c ON c.vec_id = ca.vec_id
              WHERE q.vec_id IN ({qids}) AND q.vec_id <> c.vec_id)
            SELECT query_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank,
                   neighbor_id, cosine
            FROM scored
            QUALIFY rank <= {k}"""


def _srp_sub_ctes(cap: int, src: str = "embeddings") -> str:
    """CTE chain replaying dedup._refine_oversized_cells — the cell-size
    cap's deterministic SRP sub-bucket split — ending in
    `subc(vec_id, label, sub)`. Cells at or under `cap` rows get sub=0;
    oversized cells split by the TOP ceil(log2(n/cap)) bits of the same
    20-bit single-band SRP signature `_srp_sql` regenerates (md5-derived
    integer projection, exact int64 dots), read via integer shift
    (floor-div by 2^(20-xb), the exact twin of Spark's double-pow floor
    on sub-2^20 values). Makes the capped driver forms of
    dedup_embedding / dedup_semantic bit-exact at ANY corpus size — the
    r11 sf1 full gate caught the oracles replaying only the uncapped
    grouping (identical below the cap, divergent once it binds)."""
    return f"""sxb AS (
              SELECT label,
                     CASE WHEN COUNT(*) > {cap}
                          THEN CAST(ceil(log2(COUNT(*) / {cap}.0)) AS INT)
                          ELSE 0 END AS xb
              FROM {src} GROUP BY label),
            ssq AS (
              SELECT vec_id,
                     list_transform(range(1, len(embedding) + 1),
                       i -> CAST(round(embedding[i] * 1000) AS BIGINT)) AS qv
              FROM {src}),
            ssproj AS (
              SELECT d.i AS dim, b.j AS bit,
                     (('0x' || substr(md5('srp:' || d.i || ':' || b.j), 1, 15))::BIGINT
                      % 2001) - 1000 AS p
              FROM range(0, 64) d(i), range(0, 20) b(j)),
            ssdots AS (
              SELECT ssq.vec_id, pr.bit, SUM(ssq.qv[pr.dim + 1] * pr.p) AS s
              FROM ssq, ssproj pr GROUP BY 1, 2),
            sssig AS (
              SELECT vec_id,
                     SUM(CASE WHEN s >= 0 THEN 1 << bit ELSE 0 END) AS sig
              FROM ssdots GROUP BY 1),
            subc AS (
              SELECT e.vec_id, e.label,
                     (g.sig // (1 << (20 - x.xb)))::BIGINT AS sub
              FROM {src} e
              JOIN sssig g ON e.vec_id = g.vec_id
              JOIN sxb x ON e.label = x.label)"""


def _semdedup_sql(
    src: str = "embeddings", extra: str = "", cap: int | None = None
) -> str:
    """SemDeDup oracle body, parameterized on the labeled source relation
    so the TRAINED-quantizer variant reuses the identical dominance
    logic over kmeans-assigned cells (src='emb2' + the unrolled fit
    CTEs) — one body, two verified parameterizations. `cap` replays the
    driver form's max_cell_rows SRP sub-bucket split (_srp_sub_ctes):
    the effective cell becomes (label, sub) — centroid, cent_cos, pairs
    and dominance all computed inside the refined cell, exactly the
    grouping Spark's capped applyInPandas sees — while cap=None pins
    sub=0 everywhere, which reduces to plain per-label grouping."""
    if cap is not None:
        sub_src = (
            _srp_sub_ctes(cap, src)
            + f""",
            sx AS (
              SELECT e.vec_id, e.embedding, e.label, s.sub
              FROM {src} e JOIN subc s ON e.vec_id = s.vec_id
            ), """
        )
    else:
        sub_src = f"""sx AS (
              SELECT vec_id, embedding, label, 0 AS sub FROM {src}
            ), """
    return f"""
            WITH {extra}{sub_src}dims AS (
              SELECT label, sub, t.i AS dim, (embedding[t.i])::DOUBLE AS v
              FROM sx, unnest(generate_series(1, len(embedding))) AS t(i)
            ), cent AS (
              SELECT label, sub, array_agg(m ORDER BY dim) AS cent FROM (
                SELECT label, sub, dim, SUM(v) / COUNT(*) AS m
                FROM dims GROUP BY 1, 2, 3)
              GROUP BY label, sub
            ), cc AS (
              SELECT e.vec_id, e.label::BIGINT AS label,
                     round(({_DOT.format(a='e.embedding', b='c.cent')})
                           / (({_NORM.format(a='e.embedding')})
                              * ({_NORM.format(a='c.cent')})), 6) AS cent_cos
              FROM sx e JOIN cent c ON e.label = c.label AND e.sub = c.sub
            ), pairs AS (
              SELECT a.vec_id AS va, b.vec_id AS vb
              FROM sx a JOIN sx b
                ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
              WHERE round(({_DOT.format(a='a.embedding', b='b.embedding')})
                          / (({_NORM.format(a='a.embedding')})
                             * ({_NORM.format(a='b.embedding')})), 6) >= 0.35
            ), edges AS (
              SELECT va AS me, vb AS nb FROM pairs
              UNION ALL SELECT vb AS me, va AS nb FROM pairs
            ), verdict AS (
              SELECT e.me, COUNT(*)::BIGINT AS n_near_dups,
                     MAX(CASE WHEN n.cent_cos < m.cent_cos
                              OR (n.cent_cos = m.cent_cos AND e.nb < e.me)
                         THEN 1 ELSE 0 END) AS dominated
              FROM edges e JOIN cc m ON e.me = m.vec_id
                           JOIN cc n ON e.nb = n.vec_id
              GROUP BY e.me
            )
            SELECT cc.vec_id, cc.label, cc.cent_cos,
                   COALESCE(v.n_near_dups, 0)::BIGINT AS n_near_dups,
                   COALESCE(v.dominated, 0) = 0 AS keep
            FROM cc LEFT JOIN verdict v ON cc.vec_id = v.me"""


def _semdedup_trained_sql() -> str:
    extra = (
        _kmeans_ctes()
        + f""",
            emb2 AS (
              SELECT e.vec_id, e.embedding, a.cid AS label
              FROM embeddings e JOIN a{_KM_N_ITER + 1} a ON e.vec_id = a.vec_id
            ),
            """
    )
    return _semdedup_sql(src="emb2", extra=extra)


def _srp_sql_adaptive(bands: int = 8, budget: float = 1.0) -> str:
    """Oracle twin of srp_lsh_near_dups' ADAPTIVE mode (bits=None) and of
    explicit srp_recommended_banding call sites: the band width is not a
    constant but the same corpus-count formula the operator evaluates —
    w = greatest(1, ceil(log2(count(*)/budget))) — so the scale-safe
    adaptivity itself is verified, not just one fixed parameterization
    (VERDICT r07 task 1b)."""
    return f"""
            WITH params AS (
              SELECT GREATEST(1, CAST(ceil(log2(COUNT(*) / {budget})) AS BIGINT)) AS w
              FROM embeddings),
            q AS (
              SELECT vec_id,
                     list_transform(range(1, len(embedding) + 1),
                       i -> CAST(round(embedding[i] * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            proj AS (
              SELECT d.i AS dim, u.j AS bit,
                     (('0x' || substr(md5('srp:' || d.i || ':' || u.j), 1, 15))::BIGINT
                      % 2001) - 1000 AS p
              FROM range(0, 64) d(i), params,
                   unnest(generate_series(0, {bands} * params.w - 1)) AS u(j)),
            dots AS (
              SELECT q.vec_id, pr.bit, SUM(q.qv[pr.dim + 1] * pr.p) AS s
              FROM q, proj pr GROUP BY 1, 2),
            bucks AS (
              SELECT vec_id, bit // (SELECT w FROM params) AS band,
                     SUM(CASE WHEN s >= 0
                              THEN 1 << (bit % (SELECT w FROM params))
                              ELSE 0 END) AS bucket
              FROM dots GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM bucks a JOIN bucks b
                ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b,
                   round(({_DOT.format(a='ea.embedding', b='eb.embedding')})
                         / (({_NORM.format(a='ea.embedding')})
                            * ({_NORM.format(a='eb.embedding')})), 6) AS cosine
            FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.vec_a
            JOIN embeddings eb ON eb.vec_id = cand.vec_b
            WHERE round(({_DOT.format(a='ea.embedding', b='eb.embedding')})
                        / (({_NORM.format(a='ea.embedding')})
                           * ({_NORM.format(a='eb.embedding')})), 6) >= 0.35"""


def _srp_sql(bits: int, bands: int) -> str:
    """SRP-LSH oracle for an arbitrary (bits, bands) config — regenerates
    the same md5-derived integer projection and band packing as
    dedup.srp_signatures. Parameterized so the at-scale band width
    (BENCH_SF1.md: b ~ log2(n)) is oracle-VERIFIED, not just measured."""
    width = bits // bands
    return f"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(range(1, len(embedding) + 1),
                       i -> CAST(round(embedding[i] * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            proj AS (
              SELECT d.i AS dim, b.j AS bit,
                     (('0x' || substr(md5('srp:' || d.i || ':' || b.j), 1, 15))::BIGINT
                      % 2001) - 1000 AS p
              FROM range(0, 64) d(i), range(0, {bits}) b(j)),
            dots AS (
              SELECT q.vec_id, pr.bit, SUM(q.qv[pr.dim + 1] * pr.p) AS s
              FROM q, proj pr GROUP BY 1, 2),
            bucks AS (
              SELECT vec_id, bit // {width} AS band,
                     SUM(CASE WHEN s >= 0 THEN 1 << (bit % {width}) ELSE 0 END) AS bucket
              FROM dots GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM bucks a JOIN bucks b
                ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b,
                   round(({_DOT.format(a='ea.embedding', b='eb.embedding')})
                         / (({_NORM.format(a='ea.embedding')})
                            * ({_NORM.format(a='eb.embedding')})), 6) AS cosine
            FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.vec_a
            JOIN embeddings eb ON eb.vec_id = cand.vec_b
            WHERE round(({_DOT.format(a='ea.embedding', b='eb.embedding')})
                        / (({_NORM.format(a='ea.embedding')})
                           * ({_NORM.format(a='eb.embedding')})), 6) >= 0.35"""


def _topk_sql(cell_pruned: bool) -> str:
    cell_cond = "AND q.label = c.label" if cell_pruned else ""
    qids = ", ".join(str(i) for i in QUERY_IDS)
    dot = _DOT.format(a="q.embedding", b="c.embedding")
    qn = _NORM.format(a="q.embedding")
    cn = _NORM.format(a="c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(({dot}) / (({qn}) * ({cn})), 6) AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id IN ({qids}) AND q.vec_id <> c.vec_id {cell_cond}
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       neighbor_id, cosine
FROM scored
QUALIFY rank <= 10
"""


def _topk_nprobe_sql(nprobe: int = 2, k: int = 10) -> str:
    qids = ", ".join(str(i) for i in QUERY_IDS)
    qc_dot = _DOT.format(a="q.embedding", b="c.cent")
    qn = _NORM.format(a="q.embedding")
    cent_n = _NORM.format(a="c.cent")
    dot = _DOT.format(a="p.q_emb", b="c.embedding")
    pn = _NORM.format(a="p.q_emb")
    cn = _NORM.format(a="c.embedding")
    return f"""
WITH dims AS (
  SELECT label, t.i AS dim, (embedding[t.i])::DOUBLE AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), cent AS (
  SELECT label, array_agg(m ORDER BY dim) AS cent FROM (
    SELECT label, dim, SUM(v) / COUNT(*) AS m FROM dims GROUP BY 1, 2)
  GROUP BY label
), probes AS (
  SELECT q.vec_id AS query_id, c.label, q.embedding AS q_emb,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(({qc_dot}) / (({qn}) * ({cent_n})), 6) DESC, c.label
         ) AS crank
  FROM embeddings q, cent c
  WHERE q.vec_id IN ({qids})
  QUALIFY crank <= {nprobe}
), scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round(({dot}) / (({pn}) * ({cn})), 6) AS cosine
  FROM probes p JOIN embeddings c
    ON c.label = p.label AND c.vec_id <> p.query_id
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       neighbor_id, cosine
FROM scored
QUALIFY rank <= {k}
"""


def _ann_recall_sql() -> str:
    """Oracle twin of q_ann_recall_report: both top-k pipelines as CTEs
    (the same SQL the sim_topk_vectorized / sim_topk_ivf_nprobe oracles
    run, whose k=10 is baked into their QUALIFY — no k parameter here, so
    the label can never drift from what the CTEs actually emit), then
    per-query |exact ∩ approx| / |exact|."""
    return f"""
WITH ex AS ({_topk_sql(cell_pruned=False).strip()}),
ap AS ({_topk_nprobe_sql().strip()}),
hits AS (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM ex e JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1),
base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
SELECT b.query_id,
       round(COALESCE(h.n_hit, 0)::DOUBLE / b.n_exact::DOUBLE, 6) AS recall
FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
"""


def _pq_sql(
    m: int = 16, bits: int = 6, rerank: int | str = "auto", k: int = 10
) -> str:
    """Oracle twin of similarity.pq_adc_topk(rerank=R): regenerates the
    md5-derived per-subspace hyperplanes, the int64 quantization, codes,
    codebook sums, the ADC table ((int dot / n) / 1e6 — the same two IEEE
    divisions), the FIXED-ORDER m-term score sum (explicit left-assoc
    `+` chain, never a commutative SUM), the ADC shortlist, and the exact
    rerank with the brute-force tier's rounded-cosine contract.

    rerank="auto" regenerates similarity.pq_auto_rerank's corpus-sized R
    in SQL — r0 * 2^ceil(log2(count/n0)/2), floored at r0=100 — so the
    adaptive shortlist itself is oracle-verified (VERDICT r07 task 5)."""
    sub = 64 // m
    if rerank == "auto":
        r_expr = "(SELECT r FROM rp)"
        rp_cte = """rp AS (
  SELECT CASE WHEN COUNT(*) <= 2000 THEN 100
         ELSE 100 * CAST(pow(2, CAST(ceil(log2(COUNT(*) / 2000.0) / 2)
                                     AS BIGINT)) AS BIGINT) END AS r
  FROM embeddings),
"""
    else:
        r_expr = str(rerank)
        rp_cte = ""
    qids = ", ".join(str(i) for i in QUERY_IDS)
    t_sum = " + ".join(f"SUM(CASE WHEN blk = {b} THEN term END)" for b in range(m))
    dot = _DOT.format(a="eq.embedding", b="ec.embedding")
    qn = _NORM.format(a="eq.embedding")
    cn = _NORM.format(a="ec.embedding")
    return f"""
WITH {rp_cte}qz AS (
  SELECT vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(round(embedding[i] * 1000) AS BIGINT)) AS qv
  FROM embeddings),
proj AS (
  SELECT b.blk, t.t, j.j,
         (('0x' || substr(md5('pq:' || b.blk || ':' || j.j || ':' || t.t), 1, 15))::BIGINT
          % 2001) - 1000 AS p
  FROM range(0, {m}) b(blk), range(0, {bits}) j(j), range(0, {sub}) t(t)),
dots AS (
  SELECT qz.vec_id, pr.blk, pr.j,
         SUM(qz.qv[pr.blk * {sub} + pr.t + 1] * pr.p) AS s
  FROM qz, proj pr GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, blk,
         SUM(CASE WHEN s >= 0 THEN 1 << j ELSE 0 END) AS code
  FROM dots GROUP BY 1, 2),
cb AS (
  SELECT c.blk, c.code, t.t,
         SUM(qz.qv[c.blk * {sub} + t.t + 1]) AS s,
         COUNT(*) AS n
  FROM codes c JOIN qz USING (vec_id) CROSS JOIN range(0, {sub}) t(t)
  GROUP BY 1, 2, 3),
adc AS (
  SELECT q2.vec_id AS query_id, cb.blk, cb.code,
         (CAST(SUM(q2.qv[cb.blk * {sub} + cb.t + 1] * cb.s) AS DOUBLE)
          / CAST(MAX(cb.n) AS DOUBLE)) / 1000000.0 AS term
  FROM qz q2 CROSS JOIN cb
  WHERE q2.vec_id IN ({qids})
  GROUP BY 1, 2, 3),
pairs AS (
  SELECT a.query_id, c.vec_id AS neighbor_id, a.blk, a.term
  FROM codes c JOIN adc a ON a.blk = c.blk AND a.code = c.code
  WHERE c.vec_id <> a.query_id),
sc AS (
  SELECT query_id, neighbor_id, round({t_sum}, 6) AS adc_score
  FROM pairs GROUP BY 1, 2),
short AS (
  SELECT query_id, neighbor_id, adc_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_score DESC, neighbor_id) AS srank
  FROM sc QUALIFY srank <= {r_expr})
SELECT s.query_id,
       row_number() OVER (PARTITION BY s.query_id
                          ORDER BY round(({dot}) / (({qn}) * ({cn})), 6) DESC,
                                   s.neighbor_id) AS rank,
       s.neighbor_id,
       round(({dot}) / (({qn}) * ({cn})), 6) AS cosine
FROM short s
JOIN embeddings eq ON eq.vec_id = s.query_id
JOIN embeddings ec ON ec.vec_id = s.neighbor_id
QUALIFY rank <= {k}
"""


def _pq_recall_sql() -> str:
    """Oracle twin of q_pq_recall_report: the exact brute-force and the
    PQ-rerank pipelines as CTEs, then per-query |exact ∩ pq| / |exact| —
    the same shape as _ann_recall_sql."""
    return f"""
WITH ex AS ({_topk_sql(cell_pruned=False).strip()}),
ap AS ({_pq_sql().strip()}),
hits AS (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM ex e JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1),
base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
SELECT b.query_id,
       round(COALESCE(h.n_hit, 0)::DOUBLE / b.n_exact::DOUBLE, 6) AS recall
FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
"""


def _ivf_pq_sql(
    m: int = 16, bits: int = 6, nprobe: int = 2, k: int = 10, sample_mod: int = 4
) -> str:
    """Oracle twin of similarity.ivf_pq_topk: the unrolled sampled k-means
    CTEs (fit + serving assignment — the persisted model is a cache of
    this pure function) supply cells, a Q x k int64-L2 routing CTE picks
    nprobe cells per query (ties: smallest cid), candidates are the
    probed cells' members, and the _pq_sql machinery (md5 hyperplanes,
    codes, codebook sums, two-IEEE-division ADC terms, fixed-order m-term
    score, corpus-sized auto shortlist, exact rounded-cosine rerank)
    scores ONLY those candidates. The PQ quantization reuses the k-means
    `q` CTE — identical round(v*1000) int64 contract."""
    n = _KM_N_ITER
    sub = 64 // m
    qids = ", ".join(str(i) for i in QUERY_IDS)
    t_sum = " + ".join(f"SUM(CASE WHEN blk = {b} THEN term END)" for b in range(m))
    dot = _DOT.format(a="eq.embedding", b="ec.embedding")
    qn = _NORM.format(a="eq.embedding")
    cn = _NORM.format(a="ec.embedding")
    return f"""
WITH {_kmeans_ctes(sample_mod=sample_mod)},
rp AS (
  SELECT CASE WHEN COUNT(*) <= 2000 THEN 100
         ELSE 100 * CAST(pow(2, CAST(ceil(log2(COUNT(*) / 2000.0) / 2)
                                     AS BIGINT)) AS BIGINT) END AS r
  FROM embeddings),
qroute AS (
  SELECT v.vec_id AS query_id, c.cid,
         list_sum(list_transform(range(1, len(v.qv) + 1),
           j -> (v.qv[j] - c.cent[j]) * (v.qv[j] - c.cent[j]))) AS qd2
  FROM q v CROSS JOIN cent{n} c
  WHERE v.vec_id IN ({qids})),
probes AS (
  SELECT query_id, cid FROM qroute
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY qd2, cid) <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM a{n + 1} a JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id),
proj AS (
  SELECT b.blk, t.t, j.j,
         (('0x' || substr(md5('pq:' || b.blk || ':' || j.j || ':' || t.t), 1, 15))::BIGINT
          % 2001) - 1000 AS p
  FROM range(0, {m}) b(blk), range(0, {bits}) j(j), range(0, {sub}) t(t)),
dots AS (
  SELECT q1.vec_id, pr.blk, pr.j,
         SUM(q1.qv[pr.blk * {sub} + pr.t + 1] * pr.p) AS s
  FROM q q1, proj pr GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, blk,
         SUM(CASE WHEN s >= 0 THEN 1 << j ELSE 0 END) AS code
  FROM dots GROUP BY 1, 2),
cb AS (
  SELECT c.blk, c.code, t.t,
         SUM(q1.qv[c.blk * {sub} + t.t + 1]) AS s,
         COUNT(*) AS n
  FROM codes c JOIN q q1 USING (vec_id) CROSS JOIN range(0, {sub}) t(t)
  GROUP BY 1, 2, 3),
adc AS (
  SELECT q2.vec_id AS query_id, cb.blk, cb.code,
         (CAST(SUM(q2.qv[cb.blk * {sub} + cb.t + 1] * cb.s) AS DOUBLE)
          / CAST(MAX(cb.n) AS DOUBLE)) / 1000000.0 AS term
  FROM q q2 CROSS JOIN cb
  WHERE q2.vec_id IN ({qids})
  GROUP BY 1, 2, 3),
pairs AS (
  SELECT cd.query_id, cd.neighbor_id, c.blk, a.term
  FROM cand cd
  JOIN codes c ON c.vec_id = cd.neighbor_id
  JOIN adc a ON a.query_id = cd.query_id
            AND a.blk = c.blk AND a.code = c.code),
sc AS (
  SELECT query_id, neighbor_id, round({t_sum}, 6) AS adc_score
  FROM pairs GROUP BY 1, 2),
short AS (
  SELECT query_id, neighbor_id, adc_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_score DESC, neighbor_id) AS srank
  FROM sc QUALIFY srank <= (SELECT r FROM rp))
SELECT s.query_id,
       row_number() OVER (PARTITION BY s.query_id
                          ORDER BY round(({dot}) / (({qn}) * ({cn})), 6) DESC,
                                   s.neighbor_id) AS rank,
       s.neighbor_id,
       round(({dot}) / (({qn}) * ({cn})), 6) AS cosine
FROM short s
JOIN embeddings eq ON eq.vec_id = s.query_id
JOIN embeddings ec ON ec.vec_id = s.neighbor_id
QUALIFY rank <= {k}
"""


def _gopher_metric_exprs(toks: str = "x") -> dict[str, str]:
    """THE copy of the Gopher gate's five metric expressions (DuckDB
    SQL, text.gopher_quality_flags parity) over rows carrying (text,
    `toks` token array). Every oracle that replays the gate builds from
    these — the r11 review found four drifting copies; a threshold or
    stopword change now lands in one place (thresholds live in
    _GOPHER_THRESH below)."""
    return {
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_word_len": (
            f"round(CAST(len(array_to_string({toks}, '')) AS DOUBLE)"
            f" / CAST(len({toks}) AS DOUBLE), 6)"
        ),
        "symbol_ratio": (
            "round((CAST(len(text) AS DOUBLE)"
            " - CAST(len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE))"
            " / CAST(len(text) AS DOUBLE), 6)"
        ),
        "alpha_word_ratio": (
            f"round(CAST(len(list_filter({toks}, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)"
            f" / CAST(len({toks}) AS DOUBLE), 6)"
        ),
        "distinct_stopwords": (
            f"CAST(len(list_intersect(list_distinct({toks}),"
            " ['the', 'a', 'of', 'and', 'to'])) AS BIGINT)"
        ),
    }


# the default-tokenization instance, for oracles that inline single
# metric expressions (corpus_profile)
_GOPHER_EXPRS = _gopher_metric_exprs()

_GOPHER_THRESH = {
    "n_tokens": "{} BETWEEN 10 AND 100000",
    "mean_word_len": "{} BETWEEN 2.0 AND 12.0",
    "symbol_ratio": "{} <= 0.1",
    "alpha_word_ratio": "{} >= 0.8",
    "distinct_stopwords": "{} >= 2",
}


def _gopher_metrics(toks: str = "x") -> str:
    """Select-list fragment: the five gate metrics AS their canonical
    column names."""
    return ",\n         ".join(
        f"{e} AS {n}" for n, e in _gopher_metric_exprs(toks).items()
    )


def _gopher_keep(toks: str | None = None) -> str:
    """The gate predicate. toks=None -> over the metric COLUMN names
    (for a CTE built with _gopher_metrics); toks='x' -> fully inline
    over the raw (text, x) row."""
    src = (
        _gopher_metric_exprs(toks)
        if toks is not None
        else {n: n for n in _GOPHER_THRESH}
    )
    return "\n         AND ".join(
        "(" + t.format(src[n]) + ")" for n, t in _GOPHER_THRESH.items()
    )


def _nb_ctes() -> str:
    """Shared CTE chain for the NB quality classifier oracles: Gopher
    gates -> weak labels -> per-token class counts -> smoothed log-odds
    model in exact int64 ppm (round-6 then DECIMAL-scale, the dsir_vocab
    contract) + the '' prior row. Replays text.nb_quality_fit exactly."""
    return f"""
d AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS x
      FROM documents),
gm AS (
  SELECT doc_id,
         {_gopher_metrics()}
  FROM d),
lab AS (
  SELECT doc_id,
         {_gopher_keep()} AS keep
  FROM gm),
tok AS (
  SELECT d.doc_id, u.t
  FROM d, unnest(x) AS u(t)
  WHERE u.t <> ''),
vocab AS (
  SELECT tok.t,
         CAST(SUM(CASE WHEN lab.keep THEN 1 ELSE 0 END) AS BIGINT) AS ct_pos,
         CAST(SUM(CASE WHEN lab.keep THEN 0 ELSE 1 END) AS BIGINT) AS ct_neg
  FROM tok JOIN lab USING (doc_id)
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(ct_pos) AS DOUBLE) AS tp,
         CAST(SUM(ct_neg) AS DOUBLE) AS tn,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM vocab),
pri AS (
  SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM lab),
model AS (
  SELECT t AS token, ct_pos, ct_neg,
         CAST(CAST(round(ln((ct_pos + 1) / (tp + v))
                         - ln((ct_neg + 1) / (tn + v)), 6)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lr_ppm
  FROM vocab, tot
  UNION ALL
  SELECT '', np, nn,
         CAST(CAST(round(ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT)
  FROM pri)"""


def _nb_fit_sql() -> str:
    return f"""
            WITH {_nb_ctes()}
            SELECT token, ct_pos, ct_neg, lr_ppm FROM model"""


def _nb_scores_sql() -> str:
    """q_quality_nb_scores twin: the persisted model is a cache of the
    deterministic fit, so the oracle replays the fit CTEs and scores
    every doc — prior + bigint sum of per-occurrence lr_ppm (all tokens
    are in-vocab on the training corpus, so the left join degenerates
    to inner exactly as the Spark side's coalesce does)."""
    return f"""
            WITH {_nb_ctes()},
            per_doc AS (
              SELECT tok.doc_id, CAST(SUM(m.lr_ppm) AS BIGINT) AS s
              FROM tok JOIN model m ON m.token = tok.t
              GROUP BY 1),
            prior AS (SELECT lr_ppm AS prior_ppm FROM model WHERE token = '')
            SELECT l.doc_id,
                   CAST(COALESCE(p.s, 0) + r.prior_ppm AS BIGINT) AS nb_score_ppm,
                   (COALESCE(p.s, 0) + r.prior_ppm) > 0 AS nb_keep,
                   l.keep AS label
            FROM lab l LEFT JOIN per_doc p ON p.doc_id = l.doc_id
            CROSS JOIN prior r"""


# analytics.event_transitions twin — shared by the matrix query and its
# top-k recommendation consumer (event_next_topk wraps it as a CTE)
_TRANSITIONS_SQL = """
            WITH sess AS (
              SELECT user_id, event_id, ts, event_type,
                     -- whole-second gap rule = state.sessionize's
                     -- unix_timestamp convention (floor of epoch seconds)
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR (epoch_us(ts) // 1000000)
                             - (epoch_us(lag(ts) OVER w) // 1000000) > 1800
                          THEN 1 ELSE 0 END AS sess_start
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s2 AS (
              SELECT *, SUM(sess_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM sess),
            pairs AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id, sess_id
                       ORDER BY ts, event_id) AS from_type,
                     event_type AS to_type
              FROM s2),
            counts AS (
              SELECT from_type, to_type, COUNT(*) AS n
              FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_type, SUM(n) AS total_from
                    FROM counts GROUP BY 1)
            SELECT c.from_type, c.to_type, c.n::BIGINT AS n,
                   CAST((c.n * 1000000) // t.total_from AS BIGINT)
                     AS share_ppm
            FROM counts c JOIN tot t USING (from_type)"""


def _pipeline_v5_sql(budget_tokens: int = 10_000) -> str:
    """q_corpus_pipeline_v5 twin: the span-scrub + keeper-dedup CTEs, the
    full NB fit replay (_nb_ctes — the persisted model is a cache of
    that pure function), then scoring of the SCRUBBED text and the
    margin-ranked budget pack."""
    return f"""
            WITH scrub AS ({_SPANS_APPLY_SQL.strip()}),
            keepers AS (
              SELECT MIN(doc_id) AS doc_id FROM scrub GROUP BY md5(clean_text)),
            {_nb_ctes().strip()},
            feats AS (
              SELECT s.doc_id,
                     len(string_split_regex(clean_text, '\\s+'))::BIGINT AS n_tokens,
                     s.n_tokens_dropped,
                     string_split_regex(clean_text, '\\s+') AS cx
              FROM scrub s JOIN keepers k ON s.doc_id = k.doc_id),
            ctok AS (
              SELECT f.doc_id, u.t
              FROM feats f, unnest(cx) AS u(t)
              WHERE u.t <> ''),
            per_doc AS (
              SELECT c.doc_id, CAST(SUM(COALESCE(m.lr_ppm, 0)) AS BIGINT) AS s
              FROM ctok c LEFT JOIN (SELECT token, lr_ppm FROM model
                                     WHERE token <> '') m
                ON m.token = c.t
              GROUP BY 1),
            prior AS (SELECT lr_ppm AS prior_ppm FROM model WHERE token = ''),
            gated AS (
              SELECT f.doc_id, f.n_tokens, f.n_tokens_dropped,
                     CAST(COALESCE(p.s, 0) + r.prior_ppm AS BIGINT) AS nb_score_ppm
              FROM feats f
              LEFT JOIN per_doc p ON p.doc_id = f.doc_id
              CROSS JOIN prior r
              WHERE COALESCE(p.s, 0) + r.prior_ppm > 0)
            SELECT doc_id, n_tokens, n_tokens_dropped, nb_score_ppm,
                   CAST(SUM(n_tokens) OVER (ORDER BY nb_score_ppm DESC, doc_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cum_tokens
            FROM gated
            QUALIFY cum_tokens <= {budget_tokens}"""


def _cjk_dict_sql() -> str:
    """Oracle twin of q_a19_cjk_dictionary: bidirectional maximum matching
    replayed in pure SQL. The derived phrase table is rebuilt from the
    same sorted-lexicon literals and modular indices; then per character
    position the longest dictionary word STARTING there (fmatch/stepf)
    and ENDING there (bmatch/stepb) feed two recursive walks — the FMM
    walk steps forward by the match length (singletons step 1), the BMM
    walk steps backward — and the classical disambiguation picks backward
    unless forward has strictly fewer tokens or equal tokens with fewer
    unmatched singletons (operators/cjk.py segment_run, exact rule).
    arg_max ties are impossible (one substring per (pos, length))."""
    from flinkproject_spark.operators.cjk import AMBIGUITY_PROBES, DEFAULT_LEXICON

    words = sorted(DEFAULT_LEXICON)
    n = len(words)
    pn = len(AMBIGUITY_PROBES)
    idx_vals = ", ".join(f"({i + 1}, '{w}')" for i, w in enumerate(words))
    probe_vals = ", ".join(
        f"({i + 1}, '{p}')" for i, p in enumerate(AMBIGUITY_PROBES)
    )
    lex_vals = ", ".join(f"('{w}', {len(w)})" for w in words)
    return f"""
WITH RECURSIVE
wl(i, w) AS (VALUES {idx_vals}),
pr(i, s) AS (VALUES {probe_vals}),
lex(w, wlen) AS (VALUES {lex_vals}),
ph AS (
  SELECT d.doc_id, w1.w || w2.w || p.s || w3.w AS phrase
  FROM documents d
  JOIN wl w1 ON w1.i = d.doc_id % {n} + 1
  JOIN wl w2 ON w2.i = (d.doc_id * 7 + 3) % {n} + 1
  JOIN pr p ON p.i = d.doc_id % {pn} + 1
  JOIN wl w3 ON w3.i = (d.doc_id * 13 + 5) % {n} + 1),
pos AS (
  SELECT doc_id, phrase, len(phrase) AS plen, t.i AS p
  FROM ph, unnest(generate_series(1, len(phrase))) AS t(i)),
fmatch AS (
  SELECT o.doc_id, o.p, l.w, l.wlen
  FROM pos o JOIN lex l
    ON l.wlen >= 2 AND substr(o.phrase, o.p, l.wlen) = l.w),
stepf AS (
  SELECT o.doc_id, o.p,
         COALESCE(b.w, substr(o.phrase, o.p, 1)) AS tok,
         COALESCE(b.step, 1) AS step
  FROM pos o LEFT JOIN (
    SELECT doc_id, p, arg_max(w, wlen) AS w, MAX(wlen) AS step
    FROM fmatch GROUP BY 1, 2) b
  ON b.doc_id = o.doc_id AND b.p = o.p),
bmatch AS (
  SELECT o.doc_id, o.p AS j, l.w, l.wlen
  FROM pos o JOIN lex l
    ON l.wlen >= 2 AND o.p >= l.wlen
   AND substr(o.phrase, o.p - l.wlen + 1, l.wlen) = l.w),
stepb AS (
  SELECT o.doc_id, o.p AS j,
         COALESCE(b.w, substr(o.phrase, o.p, 1)) AS tok,
         COALESCE(b.step, 1) AS step
  FROM pos o LEFT JOIN (
    SELECT doc_id, j, arg_max(w, wlen) AS w, MAX(wlen) AS step
    FROM bmatch GROUP BY 1, 2) b
  ON b.doc_id = o.doc_id AND b.j = o.p),
fwd(doc_id, p, ord) AS (
  SELECT doc_id, 1, 0 FROM ph
  UNION ALL
  SELECT f.doc_id, f.p + s.step, f.ord + 1
  FROM fwd f JOIN stepf s ON s.doc_id = f.doc_id AND s.p = f.p),
bwd(doc_id, j, rord) AS (
  SELECT doc_id, len(phrase), 0 FROM ph
  UNION ALL
  SELECT b.doc_id, b.j - s.step, b.rord + 1
  FROM bwd b JOIN stepb s ON s.doc_id = b.doc_id AND s.j = b.j
  WHERE b.j >= 1),
ftoks AS (
  SELECT f.doc_id, f.ord AS idx, s.tok
  FROM fwd f JOIN stepf s ON s.doc_id = f.doc_id AND s.p = f.p),
btoks AS (
  SELECT b.doc_id, b.rord, s.tok
  FROM bwd b JOIN stepb s ON s.doc_id = b.doc_id AND s.j = b.j),
fstats AS (
  SELECT doc_id, COUNT(*) AS nt,
         SUM(CASE WHEN len(tok) = 1 THEN 1 ELSE 0 END) AS sg
  FROM ftoks GROUP BY 1),
bstats AS (
  SELECT doc_id, COUNT(*) AS nt,
         SUM(CASE WHEN len(tok) = 1 THEN 1 ELSE 0 END) AS sg
  FROM btoks GROUP BY 1),
pick AS (
  SELECT f.doc_id,
         CASE WHEN (b.nt < f.nt) OR (b.nt = f.nt AND b.sg <= f.sg)
              THEN 'b' ELSE 'f' END AS side,
         b.nt AS bn
  FROM fstats f JOIN bstats b ON b.doc_id = f.doc_id)
SELECT t.doc_id, CAST(t.idx AS BIGINT) AS pos, t.tok AS word
FROM ftoks t JOIN pick p ON p.doc_id = t.doc_id AND p.side = 'f'
UNION ALL
SELECT t.doc_id, CAST(p.bn - 1 - t.rord AS BIGINT) AS pos, t.tok AS word
FROM btoks t JOIN pick p ON p.doc_id = t.doc_id AND p.side = 'b'
"""


def _ivf_pq_recall_sql() -> str:
    """Oracle twin of q_ivf_pq_recall_report: the exact brute-force and
    the composed IVFxPQ pipelines as CTEs, then per-query
    |exact ∩ approx| / |exact| — the same shape as _pq_recall_sql."""
    return f"""
WITH ex AS ({_topk_sql(cell_pruned=False).strip()}),
ap AS ({_ivf_pq_sql().strip()}),
hits AS (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM ex e JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1),
base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
SELECT b.query_id,
       round(COALESCE(h.n_hit, 0)::DOUBLE / b.n_exact::DOUBLE, 6) AS recall
FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
"""


_LANG_SCORES = ",\n  ".join(
    "len(list_filter(x, t -> {ors})) AS s_{lg}".format(
        ors=" OR ".join(f"t = '{m}'" for m in ms), lg=lg
    )
    for lg, ms in text.LANG_MARKERS.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lg}" for lg in text.LANG_MARKERS) + ")"
_LANG_CASE = "CASE " + " ".join(
    f"WHEN s_{lg} = {_LANG_BEST} THEN '{lg}'" for lg in text.LANG_MARKERS
) + " END"


def _spans_sql(intra_doc: bool = False) -> str:
    """Oracle twin of dedup.duplicated_spans: rolling 8-gram hashes,
    multiplicity-marked grams, per-doc running-max interval merge.
    `intra_doc` mirrors include_intra_doc — the dup test counts total
    OCCURRENCES instead of distinct documents (ADVICE r07)."""
    mult = "COUNT(*)" if intra_doc else "COUNT(DISTINCT doc_id)"
    return rf"""
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\s+') AS x,
                     len(string_split_regex(text, '\s+')) AS n
              FROM documents),
            g AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(x[i + 1 : i + 8], ' ')) AS gh
              FROM d, unnest(generate_series(0, n - 8)) AS u(i)
              WHERE n >= 8),
            dup AS (
              SELECT gh, CAST({mult} AS BIGINT) AS nd
              FROM g GROUP BY 1 HAVING {mult} >= 2),
            m AS (SELECT g.doc_id, g.pos, dup.nd FROM g JOIN dup USING (gh)),
            e AS (
              SELECT doc_id, pos, nd,
                     MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM m),
            s AS (
              SELECT doc_id, pos, nd,
                     CASE WHEN prev_end IS NULL OR pos > prev_end
                          THEN 1 ELSE 0 END AS new_span
              FROM e),
            grp AS (
              SELECT doc_id, pos, nd,
                     SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS gid
              FROM s)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_len,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(MAX(nd) AS BIGINT) AS nd_max
            FROM grp GROUP BY doc_id, gid"""


_SPANS_APPLY_SQL = r"""
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\s+') AS x,
                     len(string_split_regex(text, '\s+')) AS n
              FROM documents),
            g AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(x[i + 1 : i + 8], ' ')) AS gh
              FROM d, unnest(generate_series(0, n - 8)) AS u(i)
              WHERE n >= 8),
            own AS (
              SELECT gh, MIN(doc_id) AS min_owner
              FROM g GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (
              SELECT g.doc_id, g.pos,
                     (g.doc_id = own.min_owner) AS is_keeper
              FROM g JOIN own USING (gh)),
            cov AS (
              SELECT doc_id, pos + off AS t, is_keeper
              FROM m, unnest(generate_series(0, 7)) AS u(off)),
            flags AS (
              SELECT doc_id, t,
                     MAX(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS any_keeper,
                     MAX(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS any_rem
              FROM cov GROUP BY 1, 2),
            tok AS (
              SELECT doc_id, i - 1 AS t, x[i] AS tok
              FROM d, unnest(generate_series(1, n)) AS u(i)),
            kept AS (
              SELECT tok.doc_id, tok.t, tok.tok
              FROM tok LEFT JOIN flags USING (doc_id, t)
              WHERE NOT COALESCE(any_rem = 1 AND any_keeper = 0, FALSE)),
            tot AS (SELECT doc_id, COUNT(*) AS n_total FROM tok GROUP BY 1),
            o AS (
              SELECT doc_id,
                     array_to_string(list(tok ORDER BY t), ' ') AS clean_text,
                     COUNT(*) AS n_tokens_kept
              FROM kept GROUP BY 1)
            SELECT o.doc_id, o.clean_text,
                   CAST(o.n_tokens_kept AS BIGINT) AS n_tokens_kept,
                   CAST(t.n_total - o.n_tokens_kept AS BIGINT) AS n_tokens_dropped
            FROM o JOIN tot t ON o.doc_id = t.doc_id"""


def oracle_sql() -> dict[str, str]:
    d = {
        "a1_project_orders": f"""
            SELECT o_orderkey AS order_id, o_custkey AS user_id,
                   o_orderstatus AS order_status,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_amount,
                   strftime(o_orderdate, '{FMT}') AS create_time,
                   strftime(o_orderdate, '%Y-%m-%d') AS create_date,
                   strftime(o_orderdate, '%H') AS create_hour,
                   epoch_ms(o_orderdate) AS create_ts
            FROM orders""",
        "a2_filter_events": f"""
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id, event_type, value, props
            FROM events
            WHERE event_type <> 'error'
              AND CAST(json_extract_string(props, '$.k') AS INTEGER) > 50""",
        "a3_explode_words": """
            SELECT doc_id, lang, i - 1 AS pos, x[i] AS word
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS x FROM documents),
                 unnest(generate_series(1, len(x))) AS u(i)""",
        "a4_split_routes": f"""
            WITH routed AS (
              SELECT CASE WHEN event_type IN ('view', 'click') THEN 'page'
                          WHEN event_type = 'signup' THEN 'start'
                          ELSE 'display' END AS route, value
              FROM events)
            SELECT route, COUNT(*) AS ct, {MONEY.format(col='value')} AS value_sum
            FROM routed GROUP BY route""",
        "a5_union_streams": f"""
            SELECT user_id, strftime(ts, '{FMT}') AS ts, 1 AS pv_ct, 0 AS uv_ct, 0 AS sv_ct
            FROM events WHERE event_type = 'view'
            UNION ALL
            SELECT user_id, strftime(ts, '{FMT}') AS ts, 0, 1, 0 FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, strftime(ts, '{FMT}') AS ts, 0, 0, 1 FROM events WHERE event_type = 'signup'""",
        "a6_visitor_stats": f"""
            SELECT strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP), '{FMT}') AS stt,
                   strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP)
                            + INTERVAL '10 minutes', '{FMT}') AS edt,
                   event_type,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
                   {MONEY.format(col='value')} AS dur_sum
            FROM events
            GROUP BY 1, 2, 3""",
        "a6_visitor_stats_4d": f"""
            WITH enriched AS (
              SELECT ts, event_type, value,
                     CAST(user_id % 5 AS BIGINT) AS ar,
                     CASE CAST(json_extract_string(props, '$.k') AS INTEGER) % 3
                          WHEN 0 THEN 'organic' WHEN 1 THEN 'paid'
                          ELSE 'social' END AS ch,
                     CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25)
                          AS BIGINT) AS vc,
                     CAST(CASE WHEN CAST(ts AS DATE)
                                    = MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                               THEN 1 ELSE 0 END AS BIGINT) AS is_new
              FROM events)
            SELECT strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP), '{FMT}') AS stt,
                   strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP)
                            + INTERVAL '10 minutes', '{FMT}') AS edt,
                   ar, ch, vc, is_new,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
                   {MONEY.format(col='value')} AS dur_sum
            FROM enriched
            GROUP BY 1, 2, 3, 4, 5, 6""",
        "a7_window_distinct": f"""
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '{FMT}') AS stt,
                   strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP)
                            + INTERVAL '1 hour', '{FMT}') AS edt,
                   COUNT(DISTINCT user_id) AS uv_ct, COUNT(*) AS pv_ct
            FROM events GROUP BY 1, 2""",
        "a8_interval_join": f"""
            SELECT o_orderkey, o_custkey, strftime(o_orderdate, '{FMT}') AS o_orderdate,
                   l_linenumber::BIGINT AS l_linenumber, l_partkey,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS order_price,
                   l_quantity AS sku_num, strftime(l_shipdate, '{FMT}') AS l_shipdate
            FROM orders JOIN lineitem
              ON o_orderkey = l_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 30 DAYS""",
        "a8_payment_wide": f"""
            SELECT p.event_id AS payment_id, p.user_id AS user_id,
                   strftime(p.ts, '{FMT}') AS payment_create_time,
                   CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE) AS payment_amount,
                   c.event_id AS order_id,
                   strftime(c.ts, '{FMT}') AS order_create_time,
                   CAST(CAST(c.value AS DECIMAL(18,2)) AS DOUBLE) AS order_amount
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 24 HOURS""",
        "a9_order_wide": f"""
            SELECT o_orderkey AS order_id, o_custkey AS user_id, o_orderstatus AS order_status,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_amount,
                   strftime(o_orderdate, '{FMT}') AS create_time,
                   c_name AS user_name, c_mktsegment AS user_segment, c_acctbal AS user_acctbal,
                   n_nationkey::BIGINT AS province_id, n_name AS province_name, r_name AS region_name
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey""",
        "a9_product_wide": """
            SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_partkey AS sku_id,
                   p_name AS sku_name, p_brand AS tm_name, p_type AS category3_name,
                   s_name AS supplier_name, n_name AS supplier_nation,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS order_amount
            FROM lineitem
            LEFT JOIN part ON l_partkey = p_partkey
            LEFT JOIN supplier ON l_suppkey = s_suppkey
            LEFT JOIN nation ON s_nationkey = n_nationkey""",
        "a10_unique_visits": f"""
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id,
                   strftime(ts, '%Y-%m-%d') AS dt, event_type
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                ORDER BY ts, event_id) = 1""",
        "a11_is_new_flag": f"""
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id, event_type,
                   CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END::BIGINT AS is_new
            FROM events""",
        "a12_bounce": f"""
            WITH flagged AS (
              SELECT event_id, ts, user_id, event_type,
                     lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id, event_type
            FROM flagged
            WHERE (prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800)
              AND (next_ts IS NULL OR date_diff('second', ts, next_ts) > 600)""",
        "a12_bounce_strict": f"""
            WITH flagged AS (
              SELECT event_id, ts, user_id, event_type,
                     lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS is_entry
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            e2 AS (
              SELECT *, lead(is_entry)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_is_entry
              FROM flagged)
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id, event_type
            FROM e2
            WHERE is_entry = 1
              AND ((next_is_entry = 1 AND date_diff('second', ts, next_ts) <= 600)
                OR next_ts IS NULL
                OR date_diff('second', ts, next_ts) > 600)""",
        "a13_sessionize": f"""
            WITH flagged AS (
              SELECT event_id, ts, user_id, event_type, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS entry
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_id, strftime(ts, '{FMT}') AS ts, user_id, event_type, value,
                   SUM(entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
            FROM flagged""",
        "a15_route_config": """
            SELECT 'dwd_order_info' AS sink_table, 'kafka' AS sink_type,
                   'o_orderkey,o_custkey,o_totalprice,o_orderdate' AS sink_columns,
                   COUNT(*) AS ct FROM orders
            UNION ALL
            SELECT 'dwd_order_update', 'kafka', 'o_orderkey,o_orderstatus,o_totalprice',
                   COUNT(*) FROM orders
            UNION ALL
            SELECT 'dim_user_info', 'hbase', 'c_custkey,c_name,c_mktsegment',
                   COUNT(*) FROM customer""",
        "a17_topn_gmv_brand": f"""
            SELECT p_brand AS tm_name, {REVENUE} AS order_amount
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY order_amount DESC, tm_name
            LIMIT 10""",
        "a18_gmv_day_range": f"""
            SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
                   {MONEY.format(col='o_totalprice')} AS gmv, COUNT(*) AS order_ct
            FROM orders
            WHERE strftime(o_orderdate, '%Y%m%d') >= '19960101'
              AND strftime(o_orderdate, '%Y%m%d') <= '19961231'
            GROUP BY 1""",
        "a19_keyword_stats": """
            SELECT keyword, COUNT(*) AS ct, 'search' AS source FROM (
              SELECT unnest(string_split(text, ' ')) AS keyword FROM documents)
            GROUP BY keyword
            ORDER BY ct DESC, keyword LIMIT 100""",
        "a19_udtf_subword": """
            WITH w AS (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents),
            p AS (
              SELECT substring(word, 3 * i + 1, 3) AS piece
              FROM w, unnest(generate_series(0,
                     CAST(ceil(len(word) / 3.0) AS BIGINT) - 1)) AS u(i)
              WHERE word <> '')
            SELECT piece AS keyword, COUNT(*) AS ct, 'search' AS source
            FROM p GROUP BY piece
            ORDER BY ct DESC, keyword LIMIT 100""",
        "a19_udtf_lateral": """
            SELECT keyword, COUNT(*) AS ct, 'search' AS source FROM (
              SELECT unnest(string_split(text, ' ')) AS keyword FROM documents)
            WHERE keyword <> ''
            GROUP BY keyword
            ORDER BY ct DESC, keyword LIMIT 100""",
        "a20_sql_province_stats": _province_stats_sql(),
        "b4_cdc_roundtrip": """
            SELECT 'gmall' AS database, 'orders' AS table_name, o_orderkey AS id,
                   o_totalprice AS total,
                   CASE WHEN o_orderstatus = 'F' THEN 'update'
                        WHEN o_orderstatus = 'P' THEN 'delete'
                        ELSE 'insert' END AS type
            FROM orders
            WHERE o_orderstatus <> 'P'""",
        "province_stats": _province_stats_sql(),
        "product_stats": f"""
            WITH b AS (
              SELECT *,
                     DATE '1970-01-01'
                       + ((date_diff('day', DATE '1970-01-01', l_shipdate) // 30) * 30) * INTERVAL 1 DAY
                       AS wstart
              FROM lineitem)
            SELECT strftime(wstart, '{FMT}') AS stt,
                   strftime(wstart + INTERVAL 30 DAYS, '{FMT}') AS edt,
                   l_partkey AS sku_id,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sku_num,
                   {REVENUE} AS order_amount,
                   COUNT(DISTINCT l_orderkey) AS order_ct,
                   COUNT(*) AS line_ct
            FROM b GROUP BY 1, 2, 3""",
        "dedup_exact": """
            SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_ct
            FROM documents GROUP BY 1""",
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_minhash_precision": _minhash_sql(
            dedup.PRECISION_NUM_HASHES, dedup.PRECISION_BANDS, dedup.PRECISION_THRESHOLD
        ),
        "minhash_pr_report": _minhash_pr_report_sql(),
        "dedup_minhash_xx": _xx_certificate_sql(),
        "product_stats_approx": f"""
            WITH b AS (
              SELECT *,
                     DATE '1970-01-01'
                       + ((date_diff('day', DATE '1970-01-01', l_shipdate) // 30) * 30) * INTERVAL 1 DAY
                       AS wstart
              FROM lineitem)
            SELECT strftime(wstart, '{FMT}') AS stt,
                   strftime(wstart + INTERVAL 30 DAYS, '{FMT}') AS edt,
                   l_partkey AS sku_id,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sku_num,
                   {REVENUE} AS order_amount,
                   COUNT(DISTINCT l_orderkey) AS order_ct,
                   COUNT(*) AS line_ct,
                   TRUE AS approx_ok
            FROM b GROUP BY 1, 2, 3""",
        "quality_deciles": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS x FROM documents),
            s AS (SELECT doc_id, len(x)::BIGINT AS n_tokens,
                         least(len(x)::DOUBLE / 100.0, 1.0) * 0.5
                           + (len(list_distinct(x))::DOUBLE / len(x)::DOUBLE) * 0.5 AS q
                  FROM t),
            b AS (SELECT quantile_cont(q, [{qs}]) AS bs FROM s),
            d AS (SELECT n_tokens, q,
                         (1 + {decsum})::BIGINT AS decile
                  FROM s CROSS JOIN b)
            SELECT decile, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   round(MIN(q), 6) AS min_score, round(MAX(q), 6) AS max_score,
                   round(AVG(q), 6) AS mean_score
            FROM d GROUP BY decile""".format(
            qs=", ".join(str(i / 10) for i in range(1, 10)),
            decsum=" + ".join(
                f"(CASE WHEN q > bs[{i}] THEN 1 ELSE 0 END)" for i in range(1, 10)
            ),
        ),
        "dedup_containment": f"""
            WITH {_SHINGLES.strip()},
            exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
            nsh AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            both_o AS (
              SELECT doc_a AS doc_small, doc_b AS doc_big,
                     inter::DOUBLE / na.n_sh::DOUBLE AS containment
              FROM inter JOIN nsh na ON na.doc_id = doc_a
              UNION ALL
              SELECT doc_b, doc_a, inter::DOUBLE / nb.n_sh::DOUBLE
              FROM inter JOIN nsh nb ON nb.doc_id = doc_b)
            SELECT doc_small, doc_big, round(containment, 6) AS containment
            FROM both_o WHERE containment >= 0.5""",
        "ngram_novelty": f"""
            WITH {_SHINGLES.strip()},
            exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
            marked AS (
              SELECT doc_id,
                     CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY s)
                          THEN 1 ELSE 0 END AS novel
              FROM exd)
            SELECT doc_id,
                   COUNT(*) AS n_shingles,
                   CAST(SUM(novel) AS BIGINT) AS n_novel,
                   round(SUM(novel)::DOUBLE / COUNT(*)::DOUBLE, 6) AS novelty_pct
            FROM marked GROUP BY doc_id""",
        "dedup_clusters": _clusters_sql(),
        "dedup_clusters_star": _clusters_sql(),
        "text_redact_pii": r"""
            WITH seeded AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' contact u' || doc_id || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' call 555-123-4567' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' ip 10.0.0.1 ssn 123-45-6789' ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                   CAST(len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                      + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
                      + len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
                      + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_pii,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
                       '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g') AS redacted
            FROM seeded""",
        "contamination": """
            WITH tsh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, len(x)-1),
                            i -> x[i] || ' ' || x[i+1] || ' ' || x[i+2])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS x
                    FROM documents WHERE doc_id % 37 <> 0)
              WHERE len(x) >= 3),
            bsh AS (
              SELECT DISTINCT
                     unnest(list_transform(range(1, len(x)-1),
                            i -> x[i] || ' ' || x[i+1] || ' ' || x[i+2])) AS sh
              FROM (SELECT string_split(text, ' ') AS x
                    FROM documents WHERE doc_id % 37 = 0)
              WHERE len(x) >= 3)
            SELECT t.doc_id,
                   COUNT(*) AS n_shingles,
                   CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS BIGINT)
                     AS n_contaminated,
                   round(CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS DOUBLE)
                         / COUNT(*), 4) AS contamination_pct
            FROM tsh t LEFT JOIN bsh b ON t.sh = b.sh
            GROUP BY 1""",
        "contamination_bloom": _bloom_sql(),
        "embedding_covariance": """
            WITH q AS (
              SELECT list_transform(embedding,
                       v -> CAST(round(v::DOUBLE * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            pairs AS (
              SELECT ti.i - 1 AS i, tj.j - 1 AS j,
                     SUM(qv[ti.i] * qv[tj.j]) AS sxy,
                     SUM(qv[ti.i]) AS sx, SUM(qv[tj.j]) AS sy,
                     COUNT(*) AS n
              FROM q,
                   unnest(generate_series(1, len(qv))) AS ti(i),
                   unnest(generate_series(1, len(qv))) AS tj(j)
              WHERE tj.j >= ti.i
              GROUP BY 1, 2)
            SELECT i::BIGINT AS i, j::BIGINT AS j,
                   CAST(sxy AS BIGINT) AS sxy, CAST(sx AS BIGINT) AS sx,
                   CAST(sy AS BIGINT) AS sy, n::BIGINT AS n,
                   round((sxy::DOUBLE - sx::DOUBLE * sy / n) / n
                         / 1000000.0, 6) + 0.0 AS cov
            FROM pairs""",
        "copurchase": """
            WITH items AS (
              SELECT l_orderkey, l_partkey FROM (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
              QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= 64),
            part_ct AS (
              SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY 1),
            n_ord AS (
              SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
            pairs AS (
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     COUNT(*) AS n_pair
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING COUNT(*) >= 2)
            SELECT p.part_a, p.part_b, p.n_pair::BIGINT AS n_pair,
                   ca.n_part::BIGINT AS n_a, cb.n_part::BIGINT AS n_b,
                   round(p.n_pair::DOUBLE * o.n_orders
                         / (ca.n_part::DOUBLE * cb.n_part), 6) AS lift
            FROM pairs p
            JOIN part_ct ca ON ca.l_partkey = p.part_a
            JOIN part_ct cb ON cb.l_partkey = p.part_b
            CROSS JOIN n_ord o""",
        "sim_topk_ivf_trained": _topk_trained_sql(),
        "urgent_revenue": """
            SELECT strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_day,
                   COUNT(*)::BIGINT AS n_lines,
                   CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                  * CAST(1.0 - l.l_discount AS DECIMAL(18,2))),
                              2) AS DOUBLE) AS revenue
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderpriority = '1-URGENT'
            GROUP BY 1""",
        "events_zorder": _zorder_sql(),
        "events_distinct_hll": _hll_sql(),
        "cluster_kmeans": _kmeans_fit_sql(),
        "cluster_kmeans_assign": _kmeans_assign_sql(),
        "cluster_kmeans_sampled": _kmeans_sampled_sql(),
        "cluster_kmeans_serve": _kmeans_serve_sql(),
        "event_transitions": _TRANSITIONS_SQL,
        "event_next_topk": f"""
            WITH tm AS ({_TRANSITIONS_SQL.strip()})
            SELECT from_type,
                   CAST(row_number() OVER (PARTITION BY from_type
                        ORDER BY share_ppm DESC, to_type) AS BIGINT) AS rk,
                   to_type, n, share_ppm
            FROM tm
            QUALIFY rk <= 3""",
        "skew_hot_join": f"""
            WITH hot AS (
              SELECT CASE WHEN o_custkey % 10 != 0
                          THEN 1 ELSE o_custkey END AS cust_hot,
                     o_totalprice
              FROM orders)
            SELECT c.c_mktsegment, c.c_nationkey, COUNT(*)::BIGINT AS n_orders,
                   {MONEY.format(col='h.o_totalprice')} AS total_spend
            FROM hot h JOIN customer c ON h.cust_hot = c.c_custkey
            GROUP BY 1, 2""",
        "pagerank": _pagerank_sql(),
        "value_quantiles_hist": _histq_sql(),
        "cluster_topics": _cluster_topics_sql(),
        "dedup_embedding_trained": _dedup_trained_sql(),
        "dedup_embedding_served": _dedup_trained_sql(sample_mod=4),
        "dedup_simhash": _simhash_sql(),
        "dedup_chunks": """
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS x,
                     len(string_split_regex(text, '\\s+')) AS n
              FROM documents),
            s AS (
              SELECT doc_id, x, n, i AS chunk_id, i * 40 AS start
              FROM d, unnest(generate_series(0,
                     CAST(greatest((n + 39) // 40, 1) AS BIGINT) - 1)) AS u(i)),
            h AS (
              SELECT doc_id, chunk_id,
                     md5(array_to_string(x[start + 1 : start + 40], ' ')) AS chunk_md5,
                     doc_id * 1048576 + chunk_id AS k
              FROM s)
            SELECT chunk_md5,
                   MIN(k) // 1048576 AS keeper_doc,
                   MIN(k) % 1048576 AS keeper_chunk,
                   COUNT(*) AS dup_ct,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM h GROUP BY 1
            HAVING COUNT(*) > 1""",
        "dedup_chunks_apply": """
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS x,
                     len(string_split_regex(text, '\\s+')) AS n
              FROM documents),
            s AS (
              SELECT doc_id, x, n, i AS chunk_id, i * 40 AS start
              FROM d, unnest(generate_series(0,
                     CAST(greatest((n + 39) // 40, 1) AS BIGINT) - 1)) AS u(i)),
            h AS (
              SELECT doc_id, chunk_id,
                     array_to_string(x[start + 1 : start + 40], ' ') AS chunk_text,
                     md5(array_to_string(x[start + 1 : start + 40], ' ')) AS chunk_md5,
                     doc_id * 1048576 + chunk_id AS k
              FROM s),
            g AS (SELECT chunk_md5, MIN(k) AS mk, COUNT(*) AS ct FROM h GROUP BY 1),
            kept AS (
              SELECT h.* FROM h JOIN g USING (chunk_md5)
              WHERE g.ct = 1 OR h.k = g.mk),
            tot AS (SELECT doc_id, COUNT(*) AS n_total FROM h GROUP BY 1),
            o AS (
              SELECT doc_id,
                     array_to_string(list(chunk_text ORDER BY chunk_id), ' ') AS clean_text,
                     COUNT(*) AS n_chunks_kept
              FROM kept GROUP BY 1)
            SELECT o.doc_id, o.clean_text, o.n_chunks_kept,
                   t.n_total - o.n_chunks_kept AS n_chunks_dropped
            FROM o JOIN tot t ON o.doc_id = t.doc_id""",
        "dedup_srp": _srp_sql_adaptive(bands=8),
        "dedup_srp_scaled": _srp_sql_adaptive(bands=8, budget=2.0),
        "dedup_spans": _spans_sql(),
        "dedup_spans_intradoc": _spans_sql(intra_doc=True),
        "dedup_spans_apply": _SPANS_APPLY_SQL,
        "event_freq_cms": """
            WITH keys AS (
              SELECT CAST(user_id AS VARCHAR) AS key FROM events),
            h AS (
              SELECT key, i,
                     ('0x' || substr(md5('cms:' || i || ':' || key), 1, 15))::BIGINT
                       % 256 AS bucket
              FROM keys, range(0, 4) r(i)),
            counters AS (SELECT i, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2),
            exact AS (SELECT key, COUNT(*) AS exact_ct FROM keys GROUP BY 1),
            top AS (SELECT * FROM exact ORDER BY exact_ct DESC, key LIMIT 20),
            est AS (
              SELECT t.key, t.exact_ct, MIN(c.c) AS cms_est
              FROM top t CROSS JOIN range(0, 4) r(i)
              JOIN counters c
                ON c.i = r.i
               AND c.bucket = ('0x' || substr(md5('cms:' || r.i || ':' || t.key), 1, 15))::BIGINT
                              % 256
              GROUP BY 1, 2)
            SELECT CAST(key AS BIGINT) AS user_id,
                   CAST(exact_ct AS BIGINT) AS exact_ct,
                   CAST(cms_est AS BIGINT) AS cms_est,
                   CAST(cms_est - exact_ct AS BIGINT) AS overshoot,
                   cms_est >= exact_ct AS sound
            FROM est""",
        "dedup_ngram_blocked": f"""
            WITH {_SHINGLES.strip()},
            blocked AS (
              SELECT doc_id, lang, (n_chars // 128) AS len_band, shingles, len(shingles) AS n_sh
              FROM sh WHERE len(shingles) > 0),
            posting AS (
              SELECT doc_id, lang, len_band, n_sh, unnest(shingles) AS s
              FROM blocked),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n_sh AS na, b.n_sh AS nb, count(*) AS c
              FROM posting a JOIN posting b
                ON a.s = b.s AND a.lang = b.lang AND a.len_band = b.len_band
                   AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
            SELECT doc_a, doc_b,
                   round(c::DOUBLE / (na + nb - c)::DOUBLE, 6) AS jaccard
            FROM inter
            WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.4""",
        "dedup_embedding": f"""
            WITH {_srp_sub_ctes(2000)}
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(({_DOT.format(a='a.embedding', b='b.embedding')})
                         / (({_NORM.format(a='a.embedding')})
                            * ({_NORM.format(a='b.embedding')})), 6) AS cosine
            FROM embeddings a
            JOIN subc sa ON a.vec_id = sa.vec_id
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
            JOIN subc sb ON b.vec_id = sb.vec_id AND sa.sub = sb.sub
            WHERE round(({_DOT.format(a='a.embedding', b='b.embedding')})
                        / (({_NORM.format(a='a.embedding')})
                           * ({_NORM.format(a='b.embedding')})), 6) >= 0.35""",
        "hybrid_search": """
            WITH toks AS (
              SELECT doc_id, t FROM (
                SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
                FROM documents)
              WHERE t IN ('spark', 'scan', 'window')),
            nd AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
            tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            idf AS (
              SELECT t, CAST(round(ln((SELECT n FROM nd)
                                      / COUNT(DISTINCT doc_id)), 6)
                             AS DECIMAL(18,6)) AS idf
              FROM toks GROUP BY t),
            lex AS (
              SELECT doc_id, SUM(tf * idf) AS lex_score
              FROM tf JOIN idf USING (t) GROUP BY 1),
            cands AS (
              SELECT doc_id, lex_score,
                     row_number() OVER (ORDER BY lex_score DESC, doc_id)
                       AS lex_rank
              FROM lex
              QUALIFY row_number() OVER (ORDER BY lex_score DESC, doc_id)
                      <= 50),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT c.doc_id, c.lex_rank,
                     round((list_reduce(list_transform(range(1, len(e.embedding) + 1), i -> (e.embedding[i]::DOUBLE) * (q.qe[i]::DOUBLE)), (x, y) -> x + y)) / ((sqrt(list_reduce(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i]::DOUBLE) * (q.qe[i]::DOUBLE)), (x, y) -> x + y))) * (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1), i -> (e.embedding[i]::DOUBLE) * (e.embedding[i]::DOUBLE)), (x, y) -> x + y)))), 6) AS cosine
              FROM cands c JOIN embeddings e ON c.doc_id = e.vec_id, q),
            fused AS (
              SELECT doc_id, lex_rank, cosine,
                     row_number() OVER (ORDER BY cosine DESC, doc_id)
                       AS vec_rank
              FROM scored),
            rr AS (
              SELECT doc_id, lex_rank, vec_rank, cosine,
                     round(1.0 / (60 + lex_rank) + 1.0 / (60 + vec_rank), 6)
                       AS rrf
              FROM fused)
            SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
                   doc_id,
                   lex_rank::BIGINT AS lex_rank,
                   vec_rank::BIGINT AS vec_rank, cosine, rrf
            FROM rr
            QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 10""",
        "dedup_semantic": _semdedup_sql(cap=2000),
        "dedup_semantic_trained": _semdedup_trained_sql(),
        "text_dsir": """
            WITH tok AS (
              SELECT doc_id, is_t, t
              FROM (SELECT doc_id, lang = 'en' AS is_t,
                           unnest(string_split_regex(text, '\\s+')) AS t
                    FROM documents)
              WHERE t <> ''),
            vocab AS (
              SELECT t,
                     SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct_t,
                     SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS ct_r
              FROM tok GROUP BY 1),
            tot AS (
              SELECT CAST(SUM(ct_t) AS DOUBLE) AS tot_t,
                     CAST(SUM(ct_r) AS DOUBLE) AS tot_r,
                     CAST(COUNT(*) AS DOUBLE) AS v
              FROM vocab),
            lr AS (
              SELECT t, CAST(round(ln((ct_t + 1) / (tot_t + v))
                                   - ln((ct_r + 1) / (tot_r + v)), 6)
                             AS DECIMAL(18,6)) AS lr
              FROM vocab, tot)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   (floor((2 * CAST((SUM(lr)) * 1000000 AS BIGINT) + (COUNT(*)))::DOUBLE / (2 * (COUNT(*)))::DOUBLE) / 1000000.0) AS log_importance
            FROM tok JOIN lr USING (t)
            GROUP BY 1""",
        "corpus_zipf": """
            WITH tok AS (
              SELECT t
              FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS t
                    FROM documents)
              WHERE t <> ''),
            freq AS (SELECT t, COUNT(*)::BIGINT AS ct FROM tok GROUP BY 1),
            tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS total FROM freq),
            ranked AS (
              SELECT t, ct, row_number() OVER (ORDER BY ct DESC, t) AS rank
              FROM freq)
            SELECT CAST(rank AS BIGINT) AS rank, t AS token, ct,
                   round(ct / total, 6) AS share,
                   round(SUM(ct) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
                         / total, 6) AS cum_share
            FROM ranked, tot
            WHERE rank <= 50""",
        "split_leakage": _split_leakage_sql(),
        "corpus_weighted_sample": _weighted_sample_sql(),
        "corpus_curriculum": _corpus_curriculum_sql(),
        "corpus_pipeline_v3": _corpus_pipeline_v3_sql(),
        "cep_followedby": f"""
            WITH p AS (
              SELECT user_id, event_id, ts, event_type,
                     lead(event_id) OVER w AS n_id,
                     lead(ts) OVER w AS n_ts,
                     lead(event_type) OVER w AS n_type
              FROM events WHERE event_type = 'purchase'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id,
                   CASE WHEN n_ts IS NOT NULL
                          AND date_diff('second', ts, n_ts) <= 7200
                        THEN 'match' ELSE 'timeout' END AS match_kind,
                   event_id AS s0_event_id,
                   strftime(ts, '{FMT}') AS s0_ts,
                   event_type AS s0_event_type,
                   CASE WHEN n_ts IS NOT NULL
                          AND date_diff('second', ts, n_ts) <= 7200
                        THEN n_id END AS s1_event_id,
                   CASE WHEN n_ts IS NOT NULL
                          AND date_diff('second', ts, n_ts) <= 7200
                        THEN strftime(n_ts, '{FMT}') END AS s1_ts,
                   CASE WHEN n_ts IS NOT NULL
                          AND date_diff('second', ts, n_ts) <= 7200
                        THEN n_type END AS s1_event_type
            FROM p""",
        "corpus_profile": f"""
            WITH d AS (
              SELECT doc_id, lang, source, text, n_chars,
                     string_split_regex(text, '\\s+') AS x
              FROM documents),
            s AS (
              SELECT *,
                {_LANG_SCORES}
              FROM d)
            SELECT doc_id, lang, source,
                   CAST(len(x) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(x)) AS BIGINT) AS n_unique,
                   n_chars::DOUBLE / len(x)::DOUBLE AS avg_token_len,
                   len(list_filter(x, t -> {_STOP_OR}))::DOUBLE
                     / len(x)::DOUBLE AS stopword_ratio,
                   len(list_distinct(x))::DOUBLE / len(x)::DOUBLE AS diversity,
                   least(len(x)::DOUBLE / 100.0, 1.0) * 0.5
                     + (len(list_distinct(x))::DOUBLE / len(x)::DOUBLE) * 0.5
                     AS quality_score,
                   {_GOPHER_EXPRS['mean_word_len']} AS mean_word_len,
                   {_GOPHER_EXPRS['symbol_ratio']} AS symbol_ratio,
                   {_gopher_keep('x')}
                     AS gopher_keep,
                   {_LANG_CASE} AS predicted_lang,
                   md5(list_aggregate(list_sort(list_distinct(x)),
                                      'string_agg', ' ')) AS fingerprint
            FROM s""",
        "text_bigram_logprob": """
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS x
              FROM documents),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(x)),
                                           i -> x[i] || ' ' || x[i + 1])) AS b
              FROM d WHERE len(x) >= 2),
            bgw AS (
              SELECT doc_id, b, split_part(b, ' ', 1) AS w1,
                     split_part(b, ' ', 2) AS w2
              FROM bg),
            ct_b AS (SELECT b, MIN(w1) AS w1, MIN(w2) AS w2,
                            COUNT(*) AS ct_b FROM bgw GROUP BY b),
            ct_l AS (SELECT w1, COUNT(*) AS ct_l FROM bgw GROUP BY w1),
            uni AS (
              SELECT t, COUNT(*) AS ct_u
              FROM (SELECT unnest(x) AS t FROM d) GROUP BY t),
            tot AS (SELECT CAST(SUM(ct_u) AS DOUBLE) AS total FROM uni),
            lp AS (
              SELECT ct_b.b,
                     CAST(round(ln(0.75 * (ct_b.ct_b / ct_l.ct_l)
                                   + 0.25 * (uni.ct_u / total)), 6)
                          AS DECIMAL(18,6)) AS lp
              FROM ct_b JOIN ct_l USING (w1)
                        JOIN uni ON uni.t = ct_b.w2, tot)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   (floor((2 * CAST((SUM(lp)) * 1000000 AS BIGINT) + (COUNT(*)))::DOUBLE / (2 * (COUNT(*)))::DOUBLE) / 1000000.0)
                     AS avg_bigram_logprob
            FROM bgw JOIN lp USING (b)
            GROUP BY 1""",
        "text_tfidf": """
            WITH tok AS (
              SELECT doc_id, source, t
              FROM (SELECT doc_id, source,
                           unnest(string_split_regex(text, '\\s+')) AS t
                    FROM documents)
              WHERE t <> ''),
            tf AS (SELECT source, t, COUNT(*)::BIGINT AS tf
                   FROM tok GROUP BY 1, 2),
            dfreq AS (SELECT t, COUNT(*)::BIGINT AS df
                      FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
            nd AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT source, t, tf, df,
                     round(tf * ln(n_docs / df), 6) AS tfidf
              FROM tf JOIN dfreq USING (t), nd)
            SELECT source, t AS token, tf, df, tfidf, CAST(rk AS BIGINT) AS rk
            FROM (SELECT *, row_number() OVER (PARTITION BY source
                                               ORDER BY tfidf DESC, t) AS rk
                  FROM scored)
            WHERE rk <= 10""",
        "ann_recall_report": _ann_recall_sql(),
        "sim_topk_pq": _pq_sql(),
        "pq_recall_report": _pq_recall_sql(),
        "sim_topk_ivf_pq": _ivf_pq_sql(),
        "ivf_pq_recall_report": _ivf_pq_recall_sql(),
        "a19_cjk_dictionary": _cjk_dict_sql(),
        "a19_cjk_dictionary_arrow": _cjk_dict_sql(),
        "quality_nb_fit": _nb_fit_sql(),
        "quality_nb_scores": _nb_scores_sql(),
        "corpus_pipeline_v5": _pipeline_v5_sql(),
        "sim_topk_vectorized": _topk_sql(cell_pruned=False),
        "sim_topk_ivf": _topk_sql(cell_pruned=True),
        "sim_topk_ivf_nprobe": _topk_nprobe_sql(),
        "text_token_stats": """
            SELECT doc_id, lang, source,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   len(list_distinct(string_split(text, ' ')))::BIGINT AS n_unique,
                   n_chars,
                   n_chars::DOUBLE / len(string_split(text, ' '))::DOUBLE AS avg_token_len
            FROM documents""",
        "text_corpus_summary": """
            SELECT source, COUNT(*) AS n_docs,
                   SUM(len(string_split(text, ' ')))::BIGINT AS total_tokens,
                   SUM(len(list_distinct(string_split(text, ' '))))::BIGINT AS total_unique_tokens,
                   MAX(len(string_split(text, ' ')))::BIGINT AS max_tokens
            FROM documents GROUP BY source""",
        "text_quality": f"""
            WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS x FROM documents)
            SELECT doc_id, lang,
                   len(x)::BIGINT AS n_tokens,
                   len(list_filter(x, t -> {_STOP_OR}))::DOUBLE / len(x)::DOUBLE AS stopword_ratio,
                   len(list_distinct(x))::DOUBLE / len(x)::DOUBLE AS diversity,
                   least(len(x)::DOUBLE / 100.0, 1.0) * 0.5
                     + (len(list_distinct(x))::DOUBLE / len(x)::DOUBLE) * 0.5 AS quality_score
            FROM t""",
        "text_langid": f"""
            WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS x FROM documents),
            scored AS (
              SELECT doc_id, lang,
                {_LANG_SCORES}
              FROM t)
            SELECT doc_id, lang AS actual_lang,
                   {_LANG_CASE} AS predicted_lang,
                   {_LANG_BEST}::BIGINT AS best_score
            FROM scored""",
        "text_fingerprint": """
            SELECT doc_id,
                   md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))),
                                      'string_agg', ' ')) AS fingerprint,
                   len(string_split(text, ' '))::BIGINT AS n_tokens
            FROM documents""",
        "session_stats": f"""
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                          THEN 1 ELSE 0 END AS entry
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT *, SUM(entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged)
            SELECT strftime(MIN(ts), '{FMT}') AS stt,
                   strftime(MAX(ts) + INTERVAL 30 MINUTES, '{FMT}') AS edt,
                   user_id, COUNT(*) AS event_ct,
                   {MONEY.format(col='value')} AS value_sum
            FROM sess GROUP BY user_id, sid""",
        "text_bpe_tokens": """
            SELECT doc_id, lang,
                   len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))::BIGINT
                     AS n_bpe_tokens,
                   len(string_split_regex(text, '\\s+'))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))::DOUBLE
                     / len(string_split_regex(text, '\\s+'))::DOUBLE AS bpe_per_word
            FROM documents""",
        "mm_decode": f"""
            SELECT doc_id AS asset_id,
                   CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   md5(text) AS payload_md5,
                   (64 + {H32.format(x='text')} % 1920)::BIGINT AS width,
                   (64 + (('0x' || substr(md5(text), 9, 8))::BIGINT) % 1080)::BIGINT AS height
            FROM documents""",
        "mm_frame_sample": """
            SELECT doc_id AS asset_id, (doc_id % 20 + 10)::BIGINT AS n_frames,
                   f::BIGINT AS frame_idx
            FROM documents, unnest(generate_series(0, (doc_id % 20 + 10) - 1, 4)) AS t(f)
            WHERE doc_id % 3 = 2""",
        "mm_features": """
            SELECT doc_id AS asset_id, i::BIGINT AS feat_idx,
                   ((('0x' || substr(md5(text || '|' || i), 1, 8))::BIGINT % 1000)
                    / 1000.0)::DOUBLE AS feature
            FROM documents, unnest(generate_series(0, 7)) AS t(i)""",
        "mm_resize": """
            SELECT doc_id AS asset_id,
                   CASE (doc_id % 3) WHEN 0 THEN 'image' ELSE 'video' END AS kind,
                   224::BIGINT AS width, 224::BIGINT AS height,
                   md5(text || '|224x224') AS resized_md5
            FROM documents
            WHERE doc_id % 3 IN (0, 2)""",
        "asof_last_order": """
            WITH day_orders AS (
              SELECT o_custkey, o_orderdate,
                     max(o_orderkey) AS last_order_key,
                     max_by(o_totalprice, o_orderkey) AS last_order_price
              FROM orders GROUP BY 1, 2)
            SELECT e.event_id, e.user_id,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   COALESCE(d.last_order_key, -1) AS last_order_key,
                   COALESCE(d.last_order_price, -1.0) AS last_order_price
            FROM events e ASOF LEFT JOIN day_orders d
              ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate""",
        "gmv_rollup": f"""
            SELECT COALESCE(r_name, 'ALL') AS region_name,
                   COALESCE(n_name, 'ALL') AS nation_name,
                   {MONEY.format(col='o_totalprice')} AS order_amount,
                   COUNT(*) AS order_ct
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)""",
        "topn_per_nation": f"""
            WITH spend AS (
              SELECT n_name AS nation_name, c_custkey AS cust_id,
                     {MONEY.format(col='o_totalprice')} AS total_spend,
                     COUNT(*) AS order_ct
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1, 2)
            SELECT nation_name,
                   ROW_NUMBER() OVER (PARTITION BY nation_name
                                      ORDER BY total_spend DESC, cust_id) AS rank,
                   cust_id, total_spend, order_ct
            FROM spend
            QUALIFY rank <= 3""",
        "sliding_visitor_stats": f"""
            WITH w AS (
              SELECT event_type, user_id, value,
                     unnest(generate_series(
                       TIMESTAMP '1970-01-01'
                         + CAST(floor((epoch(ts) - 7200) / 3600) + 1 AS BIGINT) * 3600 * INTERVAL 1 SECOND,
                       TIMESTAMP '1970-01-01'
                         + CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * INTERVAL 1 SECOND,
                       INTERVAL 1 HOUR)) AS wstart
              FROM events)
            SELECT strftime(wstart, '{FMT}') AS stt,
                   strftime(wstart + INTERVAL 2 HOURS, '{FMT}') AS edt,
                   event_type, COUNT(*) AS pv_ct,
                   COUNT(DISTINCT user_id) AS uv_ct,
                   {MONEY.format(col='value')} AS val_sum
            FROM w GROUP BY 1, 2, 3""",
        "order_value_percentiles": """
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5) AS p50,
                   quantile_cont(o_totalprice, 0.9) AS p90,
                   quantile_cont(o_totalprice, 0.99) AS p99,
                   COUNT(*) AS order_ct
            FROM orders GROUP BY 1""",
        "order_value_percentiles_approx": """
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5) AS p50,
                   quantile_cont(o_totalprice, 0.9) AS p90,
                   quantile_cont(o_totalprice, 0.99) AS p99,
                   COUNT(*) AS order_ct,
                   TRUE AS approx_ok
            FROM orders GROUP BY 1""",
        "scd2_order_state": f"""
            WITH day_orders AS (
              SELECT o_custkey, o_orderdate,
                     max(o_orderkey) AS last_order_key,
                     max_by(o_totalprice, o_orderkey) AS last_order_price
              FROM orders GROUP BY 1, 2)
            SELECT o_custkey AS cust_id,
                   strftime(o_orderdate, '{FMT}') AS valid_from,
                   COALESCE(strftime(LEAD(o_orderdate) OVER w, '{FMT}'), 'current') AS valid_to,
                   ROW_NUMBER() OVER w AS version,
                   last_order_key, last_order_price
            FROM day_orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)""",
        "a8_interval_join_outer": f"""
            SELECT o_orderkey, strftime(o_orderdate, '{FMT}') AS o_orderdate,
                   COALESCE(l_linenumber::BIGINT, -1) AS line_no,
                   COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), -1.0)
                     AS order_price
            FROM orders LEFT JOIN lineitem
              ON o_orderkey = l_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 7 DAYS""",
        "event_type_pivot": """
            SELECT strftime(ts, '%Y-%m-%d') AS dt,
                   COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE), 0.0) AS view_sum,
                   COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS DOUBLE), 0.0) AS click_sum,
                   COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DOUBLE), 0.0) AS signup_sum,
                   COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DOUBLE), 0.0) AS purchase_sum,
                   COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DOUBLE), 0.0) AS error_sum
            FROM events GROUP BY 1""",
        "dedup_survivors": """
            WITH g AS (
              SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
                     COUNT(*) AS dup_ct
              FROM documents GROUP BY 1)
            SELECT d.doc_id, d.lang
            FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM g
              WHERE g.dup_ct > 1 AND g.content_md5 = md5(d.text)
                AND d.doc_id != g.keeper_id)""",
        "running_spend": f"""
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '{FMT}') AS o_orderdate,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        OVER w AS DOUBLE) AS running_spend,
                   ROW_NUMBER() OVER w AS order_seq
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING)""",
        "corpus_sample": _corpus_sample_sql(),
        "token_budget_pack": f"""
            WITH scored AS (
              SELECT doc_id, lang, source,
                     len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens,
                     least(len(string_split_regex(text, '\\s+'))::DOUBLE / 100.0, 1.0) * 0.5
                       + (len(list_distinct(string_split_regex(text, '\\s+')))::DOUBLE
                          / len(string_split_regex(text, '\\s+'))::DOUBLE) * 0.5
                       AS quality_score
              FROM documents)
            SELECT doc_id, lang, source, n_tokens, quality_score,
                   CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cum_tokens
            FROM scored
            QUALIFY cum_tokens <= {TOKEN_BUDGET}""",
        "text_repetition": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS x FROM documents),
            grams AS (
              SELECT doc_id, x[i] || ' ' || x[i+1] AS gram
              FROM toks, unnest(generate_series(1, len(x) - 1)) AS u(i)
              WHERE len(x) >= 2),
            per AS (SELECT doc_id, gram, COUNT(*) AS ct FROM grams GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(MAX(ct) AS BIGINT) AS top_ct,
                   CAST(SUM(ct) AS BIGINT) AS total_ngrams,
                   CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
                   CAST(MAX(ct) AS DOUBLE) / CAST(SUM(ct) AS DOUBLE) AS top_ngram_ratio,
                   CAST(COUNT(*) AS DOUBLE) / CAST(SUM(ct) AS DOUBLE) AS ngram_diversity
            FROM per GROUP BY doc_id""",
        "cluster_assign": _cluster_assign_sql(),
        "dedup_incremental": """
            WITH newb AS (
              SELECT doc_id, lang, md5(text) AS content_md5,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rn
              FROM documents WHERE doc_id % 3 <> 0),
            idx AS (
              SELECT DISTINCT md5(text) AS content_md5
              FROM documents WHERE doc_id % 3 = 0)
            SELECT doc_id, lang FROM newb
            WHERE rn = 1
              AND content_md5 NOT IN (SELECT content_md5 FROM idx)""",
        "sim_quantize": _quantize_sql(),
        "text_entropy": """
            WITH chars AS (
              SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c
              FROM documents),
            per AS (SELECT doc_id, c, COUNT(*) AS ct FROM chars GROUP BY 1, 2),
            agg AS (
              SELECT doc_id, CAST(SUM(ct) AS BIGINT) AS n,
                     CAST(COUNT(*) AS BIGINT) AS distinct_chars,
                     SUM(ct::DOUBLE * log2(ct::DOUBLE)) AS s
              FROM per GROUP BY doc_id)
            SELECT doc_id, n AS n_chars_counted, distinct_chars,
                   round(log2(n::DOUBLE) - s / n::DOUBLE, 6) AS entropy
            FROM agg""",
        "dedup_normalized": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
                   MIN(doc_id) AS keeper_id, COUNT(*) AS dup_ct
            FROM documents GROUP BY 1""",
        "corpus_cube": """
            SELECT COALESCE(lang, 'ALL') AS lang,
                   COALESCE(source, 'ALL') AS source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
                     AS total_tokens
            FROM documents
            GROUP BY CUBE (lang, source)""",
        "corpus_by_cluster": """
            WITH q AS (
              SELECT doc_id,
                     len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens,
                     least(len(string_split_regex(text, '\\s+'))::DOUBLE / 100.0,
                           1.0) * 0.5
                       + (len(list_distinct(string_split_regex(text, '\\s+')))::DOUBLE
                          / len(string_split_regex(text, '\\s+'))::DOUBLE) * 0.5
                       AS quality_score
              FROM documents)
            SELECT e.label::BIGINT AS label,
                   COUNT(*) AS n_docs,
                   CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
                   round(SUM(q.quality_score) / COUNT(*)::DOUBLE, 6) AS avg_quality
            FROM q JOIN embeddings e ON q.doc_id = e.vec_id
            GROUP BY 1""",
        "corpus_pipeline_v2": _corpus_pipeline_v2_sql(),
        "daily_anomalies": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     COUNT(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            m AS (
              SELECT event_type, day, n,
                     round(avg(n) OVER w, 6) AS trailing_mean,
                     round(stddev_samp(n) OVER w, 6) AS trailing_std
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
            SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
                   trailing_mean, trailing_std,
                   COALESCE(n > trailing_mean + 3.0 * trailing_std, FALSE)
                     AS is_anomaly
            FROM m""",
        "daily_anomalies_dense": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     COUNT(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
                  FROM daily GROUP BY 1),
            spine AS (
              SELECT event_type,
                     CAST(unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                                 INTERVAL 1 DAY)) AS DATE) AS day
              FROM b),
            dense AS (
              SELECT s.event_type, s.day, COALESCE(d.n, 0)::BIGINT AS n
              FROM spine s LEFT JOIN daily d
                ON d.event_type = s.event_type AND d.day = s.day),
            m AS (
              SELECT event_type, day, n,
                     round(avg(n) OVER w, 6) AS trailing_mean,
                     round(stddev_samp(n) OVER w, 6) AS trailing_std
              FROM dense
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
            SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
                   trailing_mean, trailing_std,
                   COALESCE(n > trailing_mean + 3.0 * trailing_std, FALSE)
                     AS is_anomaly
            FROM m""",
        "funnel_windowed": f"""
            WITH w1 AS (
              SELECT user_id, ts, event_type,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS s0_ts
              FROM events),
            w2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts > s0_ts
                                 AND ts <= s0_ts + INTERVAL 3600 SECONDS
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS s1_ts
              FROM w1),
            w3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s1_ts
                                 AND ts <= s1_ts + INTERVAL 3600 SECONDS
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS s2_ts
              FROM w2)
            SELECT user_id,
                   COALESCE(strftime(MIN(s0_ts), '{FMT}'), 'never') AS s0_ts,
                   COALESCE(strftime(MIN(s1_ts), '{FMT}'), 'never') AS s1_ts,
                   COALESCE(strftime(MIN(s2_ts), '{FMT}'), 'never') AS s2_ts,
                   CAST(CASE WHEN MIN(s2_ts) IS NOT NULL THEN 3
                             WHEN MIN(s1_ts) IS NOT NULL THEN 2
                             WHEN MIN(s0_ts) IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS funnel_stage
            FROM w3 GROUP BY user_id""",
        "funnel": f"""
            WITH w1 AS (
              SELECT user_id, ts, event_type,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS s0_ts
              FROM events),
            w2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts > s0_ts
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS s1_ts
              FROM w1),
            w3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s1_ts
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS s2_ts
              FROM w2)
            SELECT user_id,
                   COALESCE(strftime(MIN(s0_ts), '{FMT}'), 'never') AS s0_ts,
                   COALESCE(strftime(MIN(s1_ts), '{FMT}'), 'never') AS s1_ts,
                   COALESCE(strftime(MIN(s2_ts), '{FMT}'), 'never') AS s2_ts,
                   CAST(CASE WHEN MIN(s2_ts) IS NOT NULL THEN 3
                             WHEN MIN(s1_ts) IS NOT NULL THEN 2
                             WHEN MIN(s0_ts) IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS funnel_stage
            FROM w3 GROUP BY user_id""",
        "retention_cohorts": """
            WITH e AS (
              SELECT user_id,
                     MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                       AS cohort_day,
                     date_diff('day',
                               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id),
                               CAST(ts AS DATE)) AS day_offset
              FROM events)
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_dt,
                   CAST(day_offset AS BIGINT) AS day_offset,
                   COUNT(DISTINCT user_id) AS active_users
            FROM e GROUP BY 1, 2""",
        "order_prorate": """
            WITH j AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS line_cents,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS total_cents
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            s AS (
              SELECT *, SUM(line_cents) OVER w AS order_line_cents
              FROM j WINDOW w AS (PARTITION BY l_orderkey)),
            b AS (
              SELECT *,
                     (total_cents * line_cents) // order_line_cents AS base_cents,
                     (total_cents * line_cents) % order_line_cents AS rem
              FROM s),
            r AS (
              SELECT *,
                     CAST(total_cents - SUM(base_cents)
                          OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY rem DESC, l_linenumber) AS rr
              FROM b)
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(base_cents + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                        AS DOUBLE) / 100.0 AS split_total_amount
            FROM r""",
        "text_chunks": """
            WITH d AS (
              SELECT doc_id, lang, string_split_regex(text, '\\s+') AS x,
                     len(string_split_regex(text, '\\s+')) AS n
              FROM documents),
            s AS (
              SELECT doc_id, lang, x, n, i AS chunk_id, i * 30 AS start
              FROM d, unnest(generate_series(0,
                     CAST(greatest((greatest(n - 10, 1) + 29) // 30, 1)
                          AS BIGINT) - 1)) AS u(i))
            SELECT doc_id, lang, CAST(chunk_id AS BIGINT) AS chunk_id,
                   array_to_string(x[start + 1 : start + 40], ' ') AS chunk_text,
                   CAST(least(n - start, 40) AS BIGINT) AS chunk_len
            FROM s""",
        "corpus_split": _corpus_split_sql(),
        "corpus_mix": _corpus_mix_sql(),
        "text_logprob": """
            WITH tok AS (
              SELECT doc_id, t
              FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
                    FROM documents)
              WHERE t <> ''),
            freq AS (SELECT t, COUNT(*) AS ct FROM tok GROUP BY 1),
            tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS total FROM freq),
            lp AS (
              SELECT t, CAST(round(ln(ct / total), 6) AS DECIMAL(18,6)) AS lp
              FROM freq, tot)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   (floor((2 * CAST((SUM(lp)) * 1000000 AS BIGINT) + (COUNT(*)))::DOUBLE / (2 * (COUNT(*)))::DOUBLE) / 1000000.0) AS avg_logprob
            FROM tok JOIN lp USING (t)
            GROUP BY 1""",
        "text_gopher": f"""
            WITH d AS (
              SELECT doc_id, text, string_split_regex(text, '\\s+') AS x
              FROM documents),
            m AS (
              SELECT doc_id,
                     {_gopher_metrics()}
              FROM d),
            f AS (
              SELECT *,
                     {_GOPHER_THRESH['n_tokens'].format('n_tokens')} AS ok_length,
                     {_GOPHER_THRESH['mean_word_len'].format('mean_word_len')} AS ok_word_len,
                     {_GOPHER_THRESH['symbol_ratio'].format('symbol_ratio')} AS ok_symbols,
                     {_GOPHER_THRESH['alpha_word_ratio'].format('alpha_word_ratio')} AS ok_alpha,
                     {_GOPHER_THRESH['distinct_stopwords'].format('distinct_stopwords')} AS ok_stopwords
              FROM m)
            SELECT *, ok_length AND ok_word_len AND ok_symbols AND ok_alpha
                      AND ok_stopwords AS keep
            FROM f""",
        "corpus_shuffle": f"""
            WITH k AS (
              SELECT doc_id,
                     {H64.format(x="'epoch0:' || doc_id")} AS k
              FROM documents),
            s AS (SELECT doc_id, k, k % 64 AS shard FROM k),
            pos AS (
              SELECT doc_id, shard,
                     CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
              FROM s),
            off AS (
              SELECT shard,
                     CAST(COALESCE(SUM(c) OVER (ORDER BY shard
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
              FROM (SELECT shard, COUNT(*) AS c FROM s GROUP BY 1))
            SELECT p.doc_id, p.shard, p.pos, p.pos + o.off AS global_pos
            FROM pos p JOIN off o USING (shard)""",
        "corpus_pack": _corpus_pack_sql(),
    }
    # the CEP-instance bounce is semantically identical to the strict twin;
    # they share one oracle (UserJumpDetailApp.java:68-117 branches)
    d["a12_bounce_cep"] = d["a12_bounce_strict"]
    return d


def _corpus_sample_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    draw = duck_hash64("'corpus-v1:' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN '{s}' THEN {int(r * SAMPLE_MOD)}" for s, r in SAMPLE_RATES.items()
    )
    return f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE ({draw}) % {SAMPLE_MOD} <
              CASE source {whens} ELSE {int(SAMPLE_DEFAULT * SAMPLE_MOD)} END"""


def _cluster_assign_sql() -> str:
    dot = _DOT.format(a="e.embedding", b="c.cent")
    en = _NORM.format(a="e.embedding")
    cn = _NORM.format(a="c.cent")
    return f"""
        WITH dims AS (
          SELECT label, t.i AS dim, (embedding[t.i])::DOUBLE AS v
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        ), cent AS (
          SELECT label, array_agg(m ORDER BY dim) AS cent FROM (
            SELECT label, dim, SUM(v) / COUNT(*) AS m FROM dims GROUP BY 1, 2)
          GROUP BY label
        ), scored AS (
          SELECT e.vec_id, e.label::BIGINT AS label, c.label::BIGINT AS c_label,
                 round(({dot}) / (({en}) * ({cn})), 6) AS cos
          FROM embeddings e, cent c
        )
        SELECT vec_id, label, c_label AS assigned_label, cos AS cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, c_label) AS rn
          FROM scored)
        WHERE rn = 1"""


def _corpus_pipeline_v2_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    draw = duck_hash64("'corpus-v1:' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN '{s}' THEN {int(r * SAMPLE_MOD)}" for s, r in SAMPLE_RATES.items()
    )
    toks = "string_split_regex(text, '\\s+')"
    sh = ("list_distinct(list_transform(range(1, len(x)-1), "
          "i -> x[i] || ' ' || x[i+1] || ' ' || x[i+2]))")
    return rf"""
        WITH seeded AS (
          SELECT doc_id, lang, source,
                 text
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' contact u' || doc_id || '@example.com' ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' ip 10.0.0.1 ssn 123-45-6789' ELSE '' END AS text
          FROM documents WHERE doc_id % 37 <> 0),
        red AS (
          SELECT doc_id, lang, source,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                   '\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\b', '<SSN>', 'g'),
                   '\b[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}\b', '<PHONE>', 'g'),
                   '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b', '<IPV4>', 'g')
                   AS text
          FROM seeded),
        gm AS (
          SELECT doc_id,
                 {_gopher_metrics(toks)}
          FROM red),
        gop AS (
          SELECT doc_id FROM gm
          WHERE {_gopher_keep()}),
        g1 AS (SELECT red.* FROM red JOIN gop USING (doc_id)),
        tsh AS (
          SELECT DISTINCT doc_id, unnest({sh}) AS s
          FROM (SELECT doc_id, {toks} AS x FROM g1) WHERE len(x) >= 3),
        bsh AS (
          SELECT DISTINCT unnest({sh}) AS s
          FROM (SELECT {toks} AS x FROM documents WHERE doc_id % 37 = 0)
          WHERE len(x) >= 3),
        cont AS (
          SELECT t.doc_id,
                 CAST(COALESCE(SUM(CASE WHEN b.s IS NOT NULL THEN 1 END), 0) AS DOUBLE)
                   / COUNT(*) AS pct
          FROM tsh t LEFT JOIN bsh b ON t.s = b.s GROUP BY 1),
        g2 AS (
          SELECT g1.* FROM g1 JOIN cont ON g1.doc_id = cont.doc_id
          WHERE round(cont.pct, 4) <= 0.2),
        keepers AS (SELECT MIN(doc_id) AS doc_id FROM g2 GROUP BY md5(text)),
        scored AS (
          SELECT d.doc_id, d.lang, d.source,
                 len({toks})::BIGINT AS n_tokens,
                 least(len({toks})::DOUBLE / 100.0, 1.0) * 0.5
                   + (len(list_distinct({toks}))::DOUBLE
                      / len({toks})::DOUBLE) * 0.5 AS quality_score
          FROM g2 d JOIN keepers k ON d.doc_id = k.doc_id),
        gated AS (SELECT * FROM scored WHERE quality_score >= 0.5),
        sampled AS (
          SELECT * FROM gated
          WHERE ({draw}) % {SAMPLE_MOD} <
                CASE source {whens} ELSE {int(0.5 * SAMPLE_MOD)} END)
        SELECT doc_id, lang, source, n_tokens, quality_score,
               CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_tokens
        FROM sampled
        QUALIFY cum_tokens <= 10000"""


def _corpus_mix_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    draw = duck_hash64("'mix-v1:' || CAST(doc_id AS VARCHAR)")
    vals = ", ".join(
        f"('{s}', CAST({r} AS DOUBLE))" for s, r in sorted(MIX_TARGETS.items())
    )
    return f"""
        WITH d AS (
          SELECT doc_id, lang, source,
                 len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens
          FROM documents),
        tgt(source, share) AS (VALUES {vals}),
        per AS (
          SELECT source, share, CAST(SUM(n_tokens) AS DOUBLE) AS toks
          FROM d JOIN tgt USING (source) GROUP BY 1, 2),
        b AS (SELECT MIN(toks / share) AS budget FROM per),
        rates AS (
          SELECT source, least(CAST(1.0 AS DOUBLE), (budget * share) / toks) AS rate
          FROM per, b)
        SELECT doc_id, lang, source, n_tokens, round(rate, 6) AS rate
        FROM d JOIN rates USING (source)
        WHERE ({draw}) % {SAMPLE_MOD} < CAST(floor(rate * {SAMPLE_MOD}) AS BIGINT)"""


def _weighted_sample_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    h = duck_hash64("'wsample-v1:' || CAST(doc_id AS VARCHAR)")
    # unbiased tie resolution at 1e-6 priority ties (ADVICE r04 #4): same
    # salted-hash draw the Spark side orders by, doc_id as final fallback
    tie = duck_hash64("'wsample-v1-tie:' || CAST(doc_id AS VARCHAR)")
    toks = "string_split_regex(text, '\\s+')"
    return f"""
        WITH scored AS (
          SELECT doc_id, lang, source,
                 len({toks})::BIGINT AS n_tokens,
                 least(len({toks})::DOUBLE / 100.0, 1.0) * 0.5
                   + (len(list_distinct({toks}))::DOUBLE
                      / len({toks})::DOUBLE) * 0.5 AS q,
                 round(ln((({h}) % {SAMPLE_MOD} + 0.5) / {float(SAMPLE_MOD)})
                       / greatest(least(len({toks})::DOUBLE / 100.0, 1.0) * 0.5
                                  + (len(list_distinct({toks}))::DOUBLE
                                     / len({toks})::DOUBLE) * 0.5, 0.01),
                       6) AS priority
          FROM documents)
        SELECT doc_id, lang, source, n_tokens,
               round(q, 6) AS quality_score, priority, CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY priority DESC, ({tie}) % {SAMPLE_MOD}, doc_id) AS rk
              FROM scored)
        WHERE rk <= 20"""


def _corpus_pipeline_v3_sql(bands: int = 4, shards: int = 64) -> str:
    from flinkproject_spark.functions import duck_hash64

    toks = "string_split_regex(text, '\\s+')"
    q = (
        f"least(len({toks})::DOUBLE / 100.0, 1.0) * 0.5"
        f" + (len(list_distinct({toks}))::DOUBLE / len({toks})::DOUBLE) * 0.5"
    )
    qs = ", ".join(str(i / bands) for i in range(1, bands))
    band_terms = " + ".join(
        f"(CASE WHEN quality_score > bs[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, bands)
    )
    h = duck_hash64("'curriculum:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH d AS (
          SELECT doc_id, text, lang, source,
                 string_split_regex(text, '\\s+') AS x
          FROM documents),
        gated AS (
          SELECT doc_id, text, lang, source,
                 {q} AS quality_score,
                 md5(list_aggregate(list_sort(list_distinct(x)),
                                    'string_agg', ' ')) AS fp
          FROM d
          WHERE {_gopher_keep('x')}
            AND ({q}) >= 0.5),
        pool AS (
          SELECT doc_id, text, lang, source, quality_score FROM gated
          QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        tok AS (
          SELECT doc_id, is_t, t
          FROM (SELECT doc_id, lang = 'en' AS is_t,
                       unnest(string_split_regex(text, '\\s+')) AS t
                FROM pool)
          WHERE t <> ''),
        vocab AS (
          SELECT t,
                 SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct_t,
                 SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS ct_r
          FROM tok GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(ct_t) AS DOUBLE) AS tot_t,
                 CAST(SUM(ct_r) AS DOUBLE) AS tot_r,
                 CAST(COUNT(*) AS DOUBLE) AS v
          FROM vocab),
        lr AS (
          SELECT t, CAST(round(ln((ct_t + 1) / (tot_t + v))
                               - ln((ct_r + 1) / (tot_r + v)), 6)
                         AS DECIMAL(18,6)) AS lr
          FROM vocab, tot),
        dscore AS (
          SELECT doc_id,
                 (floor((2 * CAST((SUM(lr)) * 1000000 AS BIGINT) + (COUNT(*)))::DOUBLE / (2 * (COUNT(*)))::DOUBLE) / 1000000.0) AS log_importance
          FROM tok JOIN lr USING (t)
          GROUP BY 1),
        sel AS (
          SELECT p.doc_id, p.lang, p.source, p.quality_score, s.log_importance
          FROM pool p JOIN dscore s USING (doc_id)
          WHERE s.log_importance >= 0.0),
        bounds AS (SELECT quantile_cont(quality_score, [{qs}]) AS bs FROM sel),
        keyed AS (
          SELECT sel.*,
                 CAST({bands} + 1 - (1 + {band_terms}) AS BIGINT) AS phase,
                 {h} AS k
          FROM sel, bounds),
        s AS (SELECT *, k % {shards} AS shard FROM keyed),
        pos AS (
          SELECT doc_id, lang, source, phase, shard, quality_score,
                 log_importance,
                 CAST(row_number() OVER (PARTITION BY phase, shard
                                         ORDER BY k, doc_id) AS BIGINT) AS pos
          FROM s),
        off AS (
          SELECT phase, shard,
                 CAST(COALESCE(SUM(c) OVER (ORDER BY phase, shard
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS off
          FROM (SELECT phase, shard, COUNT(*) AS c FROM s GROUP BY 1, 2))
        SELECT p.doc_id, p.lang, p.source, p.phase, p.shard,
               round(p.quality_score, 6) AS quality_score, p.log_importance,
               p.pos + o.off AS global_pos
        FROM pos p JOIN off o USING (phase, shard)"""


def _corpus_curriculum_sql(bands: int = 4, shards: int = 64) -> str:
    from flinkproject_spark.functions import duck_hash64

    toks = "string_split_regex(text, '\\s+')"
    q = (
        f"least(len({toks})::DOUBLE / 100.0, 1.0) * 0.5"
        f" + (len(list_distinct({toks}))::DOUBLE / len({toks})::DOUBLE) * 0.5"
    )
    qs = ", ".join(str(i / bands) for i in range(1, bands))
    band_terms = " + ".join(
        f"(CASE WHEN q > bs[{i}] THEN 1 ELSE 0 END)" for i in range(1, bands)
    )
    h = duck_hash64("'curriculum:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH scored AS (SELECT doc_id, {q} AS q FROM documents),
        bounds AS (SELECT quantile_cont(q, [{qs}]) AS bs FROM scored),
        keyed AS (
          SELECT doc_id, q,
                 CAST({bands} + 1 - (1 + {band_terms}) AS BIGINT) AS phase,
                 {h} AS k
          FROM scored, bounds),
        s AS (SELECT *, k % {shards} AS shard FROM keyed),
        pos AS (
          SELECT doc_id, phase, shard, q,
                 CAST(row_number() OVER (PARTITION BY phase, shard
                                         ORDER BY k, doc_id) AS BIGINT) AS pos
          FROM s),
        off AS (
          SELECT phase, shard,
                 CAST(COALESCE(SUM(c) OVER (ORDER BY phase, shard
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS off
          FROM (SELECT phase, shard, COUNT(*) AS c FROM s GROUP BY 1, 2))
        SELECT p.doc_id, p.phase, p.shard, round(p.q, 6) AS quality_score,
               p.pos + o.off AS global_pos
        FROM pos p JOIN off o USING (phase, shard)"""


def _split_leakage_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    h = duck_hash64("'split-v1:' || CAST(doc_id AS VARCHAR)")
    draw = f"({h}) % {SAMPLE_MOD}"
    t_train = int(0.9 * SAMPLE_MOD)
    t_val = int(0.95 * SAMPLE_MOD)
    return f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM documents
          WHERE doc_id % 5 = 0),
        assigned AS (
          SELECT md5(text) AS content_md5, doc_id,
                 CASE WHEN {draw} < {t_train} THEN 'train'
                      WHEN {draw} < {t_val} THEN 'val'
                      ELSE 'test' END AS split
          FROM docs)
        SELECT content_md5,
               COUNT(*)::BIGINT AS n_docs,
               COUNT(DISTINCT split)::BIGINT AS n_splits,
               array_to_string(list_sort(list_distinct(array_agg(split))), ',')
                 AS splits,
               MIN(doc_id) AS min_doc_id
        FROM assigned
        GROUP BY content_md5
        HAVING COUNT(DISTINCT split) > 1"""


def _corpus_split_sql() -> str:
    from flinkproject_spark.functions import duck_hash64
    from flinkproject_spark.operators.sampling import SAMPLE_MOD

    h = duck_hash64("'split-v1:' || CAST(doc_id AS VARCHAR)")
    draw = f"({h}) % {SAMPLE_MOD}"
    t_train = int(0.9 * SAMPLE_MOD)
    t_val = int(0.95 * SAMPLE_MOD)
    return f"""
        SELECT doc_id, lang, source,
               CASE WHEN {draw} < {t_train} THEN 'train'
                    WHEN {draw} < {t_val} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents"""


def _corpus_pack_sql(capacity: int = 512, n_buckets: int = 8) -> str:
    from flinkproject_spark.functions import duck_hash64

    h = duck_hash64("'pack:' || CAST(doc_id AS VARCHAR)")
    bucket = f"({h}) % {n_buckets}"
    return f"""
        WITH d AS (
          SELECT doc_id, lang, source,
                 len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens,
                 {bucket} AS bucket
          FROM documents),
        c AS (
          SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
        SELECT doc_id, lang, source, n_tokens,
               CAST(bucket AS BIGINT) AS bucket,
               CAST(bucket * 4294967296 + ((cum - n_tokens) // {capacity})
                    AS BIGINT) AS bin_id
        FROM c"""


def _quantize_sql() -> str:
    dot = _DOT.format(a="d.embedding", b="d.deq")
    en = _NORM.format(a="d.embedding")
    dn = _NORM.format(a="d.deq")
    return f"""
        WITH p AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0
                   AS scale
          FROM embeddings),
        d AS (
          SELECT vec_id, scale, embedding,
                 list_transform(embedding,
                                v -> round(v::DOUBLE / scale, 0) * scale) AS deq
          FROM p)
        SELECT vec_id, round(scale, 6) AS scale,
               round(({dot}) / (({en}) * ({dn})), 6) AS recon_cosine
        FROM d"""


def _province_stats_sql() -> str:
    return f"""
        WITH b AS (
          SELECT o_orderkey, o_totalprice, c_nationkey,
                 DATE '1970-01-01'
                   + ((date_diff('day', DATE '1970-01-01', o_orderdate) // 365) * 365) * INTERVAL 1 DAY
                   AS wstart
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT strftime(wstart, '{FMT}') AS stt,
               strftime(wstart + INTERVAL 365 DAYS, '{FMT}') AS edt,
               n_nationkey::BIGINT AS province_id, n_name AS province_name,
               {MONEY.format(col='o_totalprice')} AS order_amount,
               COUNT(DISTINCT o_orderkey) AS order_count
        FROM b JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3, 4"""
