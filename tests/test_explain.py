"""Physical-plan regression tests — the scale-design claims, asserted.

The engine's 100 TB posture rests on plan properties, not intentions:
dim joins must actually broadcast, filters must reach the parquet scan,
aggregations must partial-aggregate before the shuffle, and nothing may
degenerate into a cartesian product. `.explain("formatted")` is the ground
truth; these tests pin it so a refactor that silently regresses the plan
(e.g. a lost broadcast hint, a UDF blocking pushdown) fails CI rather than
surfacing as a 100x slowdown on a real cluster.

Reference parity note: the reference hand-tunes none of this (Flink jobs
run at parallelism 1 — BaseLogApp.java:35 et al.); these properties are
what the Spark re-design buys.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

# The multi-probe IVF cross-joins the tiny query set against the tiny
# centroid table to rank cells — an intentional small-x-small BNL.
# corpus_mix and text_logprob cross-join a ONE-row scalar (mix budget /
# corpus token total) onto a vocab/rate table — metadata x metadata,
# never data. quality_deciles broadcasts a ONE-row boundary-array table
# onto every doc (effectively a map-side literal; the BNL side is always
# exactly one row).
BNLJ_ALLOWED = {
    "sim_topk_ivf_nprobe", "cluster_assign", "corpus_mix",
    "text_logprob", "quality_deciles", "text_dsir", "corpus_zipf", "text_tfidf",
    "text_bigram_logprob", "corpus_curriculum", "corpus_pipeline_v3",
    # certificate queries (r05): crossJoins of broadcast SINGLE-ROW
    # aggregates (truth count x soundness flag x recall flag; report x
    # dropped-shingle count) — scalar x scalar, never data x data
    "dedup_minhash_xx", "minhash_pr_report",
    # the recall report's approximate arm routes queries to cells through
    # the sim_topk_ivf_nprobe query x centroid cross join
    "ann_recall_report",
    # the SINGLE-ROW 128 KB bloom bitset broadcast to every task (r08)
    "contamination_bloom",
    # the trained-quantizer tier (r08): Lloyd assignment IS a broadcast
    # crossJoin of the <=KM_K_MAX-row centroid table against the corpus
    # (k distances folded per row) — tiny x data by construction, the
    # canonical distributed k-means shape
    "cluster_kmeans", "cluster_kmeans_assign", "dedup_embedding_trained",
    "sim_topk_ivf_trained", "dedup_semantic_trained",
    # single-row query-embedding broadcast onto the r-candidate rerank
    "hybrid_search",
    # single-row total-order-count broadcast onto the pair table (the
    # lift denominator) — scalar x data, same shape as corpus_mix
    "copurchase",
    # r09: the sampled-fit tier shares the trained tier's intended
    # tiny-x-data Lloyd shapes
    "cluster_kmeans_sampled",
    # r09: ONE-row global (min, max) bounds aggregate broadcast onto the
    # value rows (the histogram's shared bin edges) — scalar x data
    "value_quantiles_hist",
    # r09: the tfidf n_docs 1-row broadcast (same shape as text_tfidf)
    # plus the trained tier's intended tiny-x-data Lloyd shapes
    "cluster_topics",
    # r11: the composed IVFxPQ tier routes each query by cross-joining
    # the tiny query set against the <=KM_K_MAX-row persisted centroid
    # table (tiny x tiny, the sim_topk_ivf_nprobe shape)
    "sim_topk_ivf_pq", "ivf_pq_recall_report",
    # r11: the NB classifier broadcasts two 1-ROW frames — the vocab
    # totals (tp, tn, V) into the smoothed-ratio projection and the
    # class-prior row into per-doc scoring — scalar x data, the
    # value_quantiles_hist bin-edge shape; pipeline v5 inherits the
    # scoring half
    "quality_nb_fit", "quality_nb_scores", "corpus_pipeline_v5",
}


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def plans(spark) -> dict[str, str]:
    return {name: _plan(spark, name) for name in entrymod.queries()}


def test_no_cartesian_products_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian product in: {bad}"


def test_nested_loop_joins_only_where_intended(plans):
    bad = [
        n for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert not bad, f"unexpected nested-loop join in: {bad}"


@pytest.mark.parametrize(
    "name",
    [
        "a9_order_wide",        # 3 chained dim joins (OrderWideApp.java:126-231)
        "a9_product_wide",
        "province_stats",       # customer+nation bridge (ProvinceStatsSqlApp)
        "a20_sql_province_stats",
        "a17_topn_gmv_brand",   # part dim
        "sim_topk_ivf",         # probed-cell candidate join
    ],
)
def test_dim_joins_broadcast(plans, name):
    """Every dim enrichment must be a BroadcastHashJoin — the engine's
    replacement for the reference's async-lookup+Redis path (A9). A shuffle
    join here means the 100 TB fact table gets hashed across the cluster to
    meet a kilobyte-scale dim."""
    assert "BroadcastHashJoin" in plans[name], f"{name} lost its broadcast join"


def test_filter_pushed_to_parquet_scan(plans):
    """A2: the event_type predicate must reach the scan (PushedFilters), not
    run post-materialization."""
    p = plans["a2_filter_events"]
    assert "PushedFilters:" in p and "event_type" in p.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning_reaches_scan(plans):
    """A16/Catalyst: top-N GMV touches 4 of lineitem's 11 columns; the scan
    must not read the rest (ReadSchema is the contract a 100 TB scan lives by)."""
    import re

    p = plans["a17_topn_gmv_brand"]
    scan = next(s for s in re.split(r"\n\(\d+\) ", p)
                if "lineitem.parquet" in s and "ReadSchema" in s)
    for unused in ("l_suppkey", "l_linenumber", "l_tax", "l_returnflag"):
        assert unused not in scan, f"a17 scan reads unused column {unused}"


@pytest.mark.parametrize("name", ["province_stats", "product_stats", "a6_visitor_stats"])
def test_windowed_aggs_partial_aggregate(plans, name):
    """A6: partial (map-side) + final HashAggregate around the exchange —
    Spark's automatic analog of the reference's incremental ReduceFunction
    (VisitorStatsApp.java:140-152). One HashAggregate only would mean all
    raw rows cross the shuffle."""
    p = plans[name]
    assert p.count("HashAggregate") >= 2, f"{name} lost partial aggregation"
    assert "Exchange" in p


@pytest.mark.parametrize("name", ["sim_topk_ivf", "sim_topk_ivf_nprobe"])
def test_ivf_partial_topk_prunes_before_global_rank(plans, name):
    """The IVF scale path must prune candidates with the narrow per-batch
    partial top-k (MapInPandas) BEFORE the global per-query ranking window,
    so the window's exchange carries O(batches*Q*k) 3-column rows, not every
    scored cell member with its embedding payload."""
    p = plans[name]
    assert "MapInPandas" in p, f"{name} lost the partial top-k pruning stage"
    # the pruning stage must sit below the ranking Window in the plan tree:
    # formatted explain lists children before parents, so MapInPandas's node
    # number must be smaller than the Window's
    import re

    nodes = {m.group(2): int(m.group(1))
             for m in re.finditer(r"\((\d+)\) (\w+)", p)}
    assert nodes["MapInPandas"] < nodes["Window"], f"{name}: pruning not upstream of rank"


def test_pq_adc_join_is_broadcast_never_data_shuffle(plans):
    """sim_topk_pq: the ADC lookup table (Q x m x 2^bits rows) must
    broadcast onto the code stream, and the candidate side must never
    sort-merge — a shuffle of the code rows to meet a kilobyte-scale
    table is exactly the anti-pattern ADC exists to avoid. The rerank
    stage likewise broadcasts the Q x R shortlist ids and query vectors."""
    p = plans["sim_topk_pq"]
    assert "BroadcastHashJoin" in p, "ADC/rerank joins lost their broadcast"
    assert "SortMergeJoin" not in p, "candidate codes are being shuffle-joined"


def test_dedup_spans_scan_prunes_and_no_data_join_shuffle(plans):
    """dedup_spans: the documents scan must read only (doc_id, text) —
    span detection never needs lang/source/n_chars — and the dup-hash
    join must stay hash-keyed (broadcast or shuffled-hash), never
    sort-merge over the gram stream."""
    p = plans["dedup_spans"]
    scan = p.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan and "n_chars" not in scan
    assert "SortMergeJoin" not in p


def test_dedup_spans_apply_scan_prunes_metadata(plans):
    """dedup_spans_apply: same (doc_id, text)-only scan discipline as the
    detector — the scrub never reads lang/source/n_chars."""
    p = plans["dedup_spans_apply"]
    scan = p.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan and "n_chars" not in scan


def test_cms_topk_is_take_ordered_and_counters_broadcast(plans):
    """event_freq_cms: the exact top-k must compile to TakeOrdered
    (per-partition top-k, never a global sort of the key table) and the
    d*w counter table must broadcast onto the probe rows."""
    p = plans["event_freq_cms"]
    assert "TakeOrderedAndProject" in p, "top-k degenerated into a global sort"
    assert "BroadcastHashJoin" in p, "counter join lost its broadcast"


def test_corpus_sample_prunes_text_column(plans):
    """The sampling predicate hashes doc_id only and the output carries no
    text — the scan must not read the corpus's heaviest column."""
    import re

    p = plans["corpus_sample"]
    scan = next(s for s in re.split(r"\n\(\d+\) ", p)
                if "documents.parquet" in s and "ReadSchema" in s)
    assert "text" not in scan.split("ReadSchema:")[1].splitlines()[0]


def test_cdc_envelope_parsed_exactly_once(plans):
    """B4: decode_cdc_envelope is a source boundary — its nondeterministic
    guard must keep filter_deletes's predicates ABOVE the parse, so the
    envelope JSON is parsed once per row. Without the guard, pushdown
    substitutes the from_json(to_json(...)) roundtrip into both filter
    conjuncts at the scan stage (3 parses/row at file-count parallelism —
    measured 4.2x slower at sf1). Pin: no from_json inside a Filter
    condition, and exactly one parsing node in the plan."""
    import re

    p = plans["b4_cdc_roundtrip"]
    sections = re.split(r"\n\(\d+\) ", p)
    filters = [s for s in sections if s.startswith("Filter")]
    assert filters, "plan lost its delete-filter"
    assert all("from_json" not in s for s in filters), \
        "envelope parse pushed into a Filter (decode barrier lost)"
    parse_sections = [s for s in sections if "from_json" in s]
    assert len(parse_sections) == 1, \
        f"envelope parsed in {len(parse_sections)} plan nodes, expected 1"


def test_certified_hll_registers_never_shuffle(plans):
    """product_stats_approx (certified form): the countDistinct+HLL mix makes
    Catalyst's distinct-rewrite key its first aggregate pair on
    (window, sku, orderkey); without the up-front repartition(window, sku),
    every near-unique key drags the 52-word HLL register buffer (`MS[i]`
    columns) through two exchanges — measured 1.34 scaling exponent and
    ~18 GB of shuffle at sf3 (BENCH_SF3.md). Pin the fixed shape: exactly
    one exchange, carrying compact raw rows (no `MS[` register columns)."""
    import re

    p = plans["product_stats_approx"]
    sections = re.split(r"\n\(\d+\) ", p)
    exchanges = [s for s in sections if s.startswith("Exchange")]
    assert len(exchanges) == 1, f"expected 1 exchange, plan has {len(exchanges)}"
    assert "MS[" not in exchanges[0], "HLL register buffers crossing the shuffle"


def test_histogram_quantiles_shuffles_counters_not_rows(plans):
    """value_quantiles_hist (r09): the only data-volume aggregate is the
    (scope, bin) counter groupBy, which must partial-aggregate map-side —
    at most scopes*256 counter rows ever cross an exchange; everything
    after (the '__all__' sum-merge, the cumulative window, the rank
    selection) runs over counter rows only. Pin partial aggregation and
    the single-row bounds broadcast (BroadcastNestedLoopJoin of a 1-row
    aggregate, never a data x data nested loop)."""
    p = plans["value_quantiles_hist"]
    assert p.count("HashAggregate") >= 2, "counter groupBy lost partial agg"
    assert "CartesianProduct" not in p


def test_sim_quantize_is_shuffle_free(plans):
    """Quantization audit is one narrow pass over the collection — any
    Exchange here would be a scale bug."""
    assert "Exchange" not in plans["sim_quantize"]


@pytest.mark.parametrize("name", ["text_entropy", "text_repetition"])
def test_two_level_aggregates_partial_aggregate(plans, name):
    p = plans[name]
    assert p.count("HashAggregate") >= 4  # partial+final at both levels
    assert "Exchange" in p


def test_whole_stage_codegen_on_scan_paths(plans):
    """Narrow-transform queries must stay inside whole-stage codegen
    (no interpreted expression islands on the hot path)."""
    for name in ("a1_project_orders", "a2_filter_events", "text_quality"):
        assert "codegen id" in plans[name], f"{name} fell off codegen"


def test_redact_pii_is_shuffle_free_codegen(plans):
    """PII redaction must run at scan speed: one codegen'd projection,
    zero exchanges — a shuffle or a Python eval node here would turn a
    100 TB scrub pass into a cluster-wide repartition."""
    p = plans["text_redact_pii"]
    assert "Exchange" not in p
    assert "codegen id" in p
    assert "Python" not in p  # no BatchEvalPython/ArrowEvalPython islands


def test_contamination_benchmark_side_broadcasts(plans):
    """The eval-set shingle side is tiny by construction; the hit-marking
    join must be map-side (AQE broadcast), not a full shuffle of the
    training corpus' shingles against it."""
    assert "BroadcastHashJoin" in plans["contamination"]


def test_contamination_bloom_probe_path_is_joinless_jvm(plans):
    """The bloom tier's probe path must be the single-row bitset BNL plus
    pure codegen bit math — no hash join against benchmark shingles (that
    is the exact tier's shape), no Python islands."""
    p = plans["contamination_bloom"]
    assert "BroadcastNestedLoopJoin" in p
    assert "BroadcastHashJoin" not in p
    # the one-row bitset arrives via createDataFrame (an ExistingRDD scan
    # mentioning applySchemaToPythonRDD) — what must NOT appear is any
    # per-row Python evaluation on the probe path
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p


def test_ngram_novelty_is_join_free(plans):
    """First-owner detection must be the WINDOW form (one shingle-keyed
    shuffle) — a join of the shingle rows against an aggregate of
    themselves would re-execute the tokenize+shingle subplan per side."""
    p = plans["ngram_novelty"]
    assert "Window" in p
    assert "Join" not in p


def test_containment_single_pass_no_union(plans):
    """Both containment orientations must come from ONE explode pass —
    a union of two projections would re-execute the inverted-index
    pipeline per branch."""
    assert "Union" not in plans["dedup_containment"]


def test_cep_bounce_single_shuffle_map_in_pandas(plans):
    """The generalized CEP operator's batch form: ONE key repartition,
    within-partition sort, mapInPandas — not per-key FlatMapGroups (whose
    per-group pandas overhead measured 10x slower at sf0.1)."""
    import re

    p = plans["a12_bounce_cep"]
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_corpus_pipeline_v2_stage_reuse(plans):
    """The VERDICT r03 #7 regression pin: the scrubbed-text subplan must
    not fan out into per-stage re-execution (was 36 parquet scans / 15
    exchanges before the passthrough-filter + window-dedup +
    localCheckpoint restructure; now 2 scans / 5 exchanges)."""
    import re

    p = plans["corpus_pipeline_v2"]
    assert p.count("Scan parquet") <= 3
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 6


def test_star_cc_half_rounds_are_window_form_no_collect(spark):
    """Round-6 regression pin: the alternating-star half-rounds must stay
    window-min per-row emissions. A collect_set/collect_list aggregate
    here re-opens the sort-based TypedImperativeAggregate fallback that
    is QUADRATIC in hub degree (measured: one 119,872-degree hub = 56 s
    for one round, 481 s total at 395k edges; see BENCH_CC_SCALE.md)."""
    from flinkproject_spark.operators.dedup import _large_star, _small_star

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u bigint, v bigint")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for fn in (_large_star, _small_star):
        plan = fn(edges)._jdf.queryExecution().explainString(mode)
        assert "Window" in plan
        assert "collect_set" not in plan and "collect_list" not in plan


def test_skew_hot_join_never_broadcasts(plans):
    """skew_hot_join (r10) models the 100 TB shape where the customer
    table scales with the fact side: the merge hint must hold — a
    BroadcastHashJoin here would make the skew test vacuous (broadcast
    joins don't shuffle, so there is no hot partition to split)."""
    p = plans["skew_hot_join"]
    assert "SortMergeJoin" in p, "merge hint lost"
    assert "BroadcastHashJoin" not in p


def test_skew_hot_join_aqe_splits_hot_partition(spark):
    """The skew-split plan pin (VERDICT r09 #3): with the skew thresholds
    forced down to test-SF sizes, AQE must detect the hot customer's
    partition (~90% of orders on one key) and split it — the executed
    adaptive plan marks the SortMergeJoin with skew=true. At production
    defaults (256 MB) the same plan shape splits hot partitions without
    any query change; this pins that the operator's join actually sits
    on the AQE-splittable path (merge join, no broadcast, partial agg
    exchanging on independent keys so the split never costs an extra
    shuffle).

    The fact side is fed through a round-robin repartition first: AQE
    splits a skewed reduce partition by MAPPER ranges, and a single-file
    parquet scan is ONE map task (the one-split pitfall) whose single
    output block cannot be subdivided — on a real cluster the fact
    arrives from thousands of mappers, which the repartition stands in
    for."""
    from flinkproject_spark import catalog
    from flinkproject_spark.operators import scale

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = catalog.load_table(spark, "/root/testdata/sf0.01", "orders")
        customer = catalog.load_table(spark, "/root/testdata/sf0.01", "customer")
        df = scale.hot_customer_revenue(orders.repartition(8), customer)
        rows = df.collect()
        assert len(rows) > 0
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, f"AQE skew split did not fire:\n{final[:2000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
