"""Full-surface sf1 bench of the headline query tier (VERDICT r05 #2).

No sf1 testdata exists in this sandbox, so a deterministic 10x scale-up
of sf0.1 is derived ONCE into a temp directory and the ~16 headline
queries (>~1 s at sf0.1) run unchanged against it via their normal
`queries()[name](spark, sf_dir)` entry points. Per query we record
wall time at both scales and the scaling exponent
``log10(t_sf1 / t_sf0.1)`` — 1.0 = linear in data, <1 = fixed overhead
still dominating, >1 = super-linear (the thing this bench exists to
catch; anything above SUPERLINEAR_GATE is flagged for a plan fix).

Scale-up construction (per-table, all deterministic, replica r of 10):

- documents: DISJOINT replication — replica r prefixes every word with
  ``r<r>_`` (BENCH_PR_SCALE.md's disjoint-10x shape): doc count and
  token volume scale 10x while the per-shingle df distribution stays
  exactly sf0.1's, so dedup pair counts grow linearly, not
  quadratically. Verbatim copies would measure workload blowup (every
  doc gaining 9 clones), not engine scaling. n_chars is recomputed
  from the transformed text.
- embeddings: per-replica deterministic sign mask (replica 0 =
  original) — replicas are mutually ~orthogonal so LSH/IVF bucket
  occupancy scales 10x without creating 9 exact clones per vector.
- TPC-H tables: key-offset replication with CONSISTENT foreign keys
  (orderkey/custkey/partkey/suppkey offsets shared between fact and
  dim); dates/timestamps unchanged so time-window group counts scale
  10x at constant group size. nation/region stay single-copy dims.

Usage: python tools/bench_sf1.py [--full]   (writes BENCH_SF1.md)
`--full` appends a single-shot run of the ENTIRE query surface at
both scales (~25 min) — the first full-surface sf1 evidence.
Env: SPARK_GRAFT_SF1_DIR to pin/reuse the derived directory.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from flinkproject_spark import catalog  # noqa: E402
from flinkproject_spark.session import get_spark  # noqa: E402

REPLICAS = 10
SUPERLINEAR_GATE = 1.3  # exponent above which a query is flagged

HEADLINE = [
    "dedup_clusters",
    "dedup_clusters_star",
    "product_stats",
    "product_stats_approx",
    "minhash_pr_report",
    "text_bigram_logprob",
    "corpus_pipeline_v2",
    "corpus_pipeline_v3",
    "b4_cdc_roundtrip",
    "dedup_ngram_blocked",
    "dedup_minhash_precision",
    "dedup_srp",
    "dedup_simhash",
    "dedup_minhash_xx",
    "ann_recall_report",
    "a8_interval_join_outer",
    "dedup_containment",
    "order_prorate",
    # r08 semantics: dedup_srp above is the ADAPTIVE form (bits=None ->
    # b=ceil(log2 n)); dedup_srp_scaled is the explicit
    # srp_recommended_banding call at budget=2.0 — both scale-safe. The
    # fixed 16/4 and 96/8 parameterizations they replaced survive only
    # as DEMONSTRATION rows in BENCH_SF10.md.
    "dedup_srp_scaled",
    # round-7 additions: rolling-gram span dedup (df-sensitive posting
    # stage), its token-level scrub apply, the PQ/ADC+rerank ANN tier
    # (auto-R refine stage since r08), and the CMS heavy-hitter report
    "dedup_spans",
    "dedup_spans_apply",
    "sim_topk_pq",
    "event_freq_cms",
    # round-8 additions: the exact decontamination join (bench side grows
    # with the synthetic %37 split) next to its constant-probe bloom tier
    # (auto-m sized to the eval set; probe cost per shingle is O(k))
    "contamination",
    "contamination_bloom",
    # round-8 additions: the trained coarse quantizer (fit + serving
    # assign + the train->assign->cell-bounded near-dup pipeline; k
    # clamped at KM_K_MAX so exact assignment is O(n*k_max*d)), the HLL
    # distinct sketch (state bounded at days*64 registers), the Z-order
    # cell audit (pure bit-math projection + one groupBy), and the
    # runtime-bloom-filter join shape
    "cluster_kmeans",
    "cluster_kmeans_assign",
    "dedup_embedding_trained",
    "sim_topk_ivf_trained",
    "dedup_semantic_trained",
    "copurchase",
    "embedding_covariance",
    "hybrid_search",
    "events_distinct_hll",
    "events_zorder",
    "urgent_revenue",
    # round-9 additions: the sampled-fit trained tier (the documented
    # 100 TB shape — hash-sample train, full-corpus assign), PageRank
    # over the co-purchase graph (5 Jacobi steps, int64 fixed-point),
    # and the mergeable histogram quantile sketch (scopes*256 counters)
    "cluster_kmeans_sampled",
    "pagerank",
    "value_quantiles_hist",
    "cluster_topics",
    # round-10 additions: the deliberately-skewed AQE-split join and the
    # persisted-model serving tier (fit cost paid once, not per query)
    "skew_hot_join",
    "cluster_kmeans_serve",
    "dedup_embedding_served",
    "event_transitions",
    # round-11 additions: the composed IVFxPQ serving tier (cell-pruned
    # ADC + exact rerank off the persisted quantizer), the trained NB
    # quality classifier (fit + serve + the v5 pipeline consuming it),
    # the real-CJK dictionary-BMM driver query, and the transition
    # matrix's recommendation consumer
    "sim_topk_ivf_pq",
    "quality_nb_fit",
    "quality_nb_scores",
    "corpus_pipeline_v5",
    "a19_cjk_dictionary",
    "event_next_topk",
]

K_OFF = {  # per-replica key offsets, shared by fact and dim columns
    "orderkey": 10_000_000,
    "custkey": 1_000_000,
    "partkey": 1_000_000,
    "suppkey": 100_000,
    "event_id": 10_000_000,
    "user_id": 10_000_000,
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
}


def _replicate(df, offsets: dict[str, int]):
    """Cross the table with replica ids 0..9 and offset the given key
    columns by r * offset — deterministic, FK-consistent 10x."""
    r = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("__r")
    out = df.select("*", r)
    for col, off in offsets.items():
        out = out.withColumn(col, F.col(col) + F.col("__r") * F.lit(off))
    return out.drop("__r")


def build_sf1(spark, out_dir: str) -> None:
    src = "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    def write(name, df):
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
        print(f"  built {name}", flush=True)

    for name in ("region", "nation"):
        write(name, catalog.load_table(spark, src, name))
    write("customer", _replicate(
        catalog.load_table(spark, src, "customer"),
        {"c_custkey": K_OFF["custkey"]}))
    write("supplier", _replicate(
        catalog.load_table(spark, src, "supplier"),
        {"s_suppkey": K_OFF["suppkey"]}))
    write("part", _replicate(
        catalog.load_table(spark, src, "part"),
        {"p_partkey": K_OFF["partkey"]}))
    write("orders", _replicate(
        catalog.load_table(spark, src, "orders"),
        {"o_orderkey": K_OFF["orderkey"], "o_custkey": K_OFF["custkey"]}))
    write("lineitem", _replicate(
        catalog.load_table(spark, src, "lineitem"),
        {"l_orderkey": K_OFF["orderkey"], "l_partkey": K_OFF["partkey"],
         "l_suppkey": K_OFF["suppkey"]}))
    write("events", _replicate(
        catalog.load_table(spark, src, "events"),
        {"event_id": K_OFF["event_id"], "user_id": K_OFF["user_id"]}))

    docs = catalog.load_table(spark, src, "documents")
    r = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("__r")
    rep = docs.select("doc_id", "text", "lang", "source", r)
    text = F.when(F.col("__r") == 0, F.col("text")).otherwise(
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", r"\s+"),
                lambda w: F.concat(
                    F.lit("r"), F.col("__r").cast("string"), F.lit("_"), w
                ),
            ),
        )
    )
    write("documents", rep.select(
        (F.col("doc_id") + F.col("__r") * F.lit(K_OFF["doc_id"])).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("bigint")))

    emb = catalog.load_table(spark, src, "embeddings")
    rep = emb.select("vec_id", "embedding", "label", r)
    flipped = F.transform(
        "embedding",
        lambda x, i: x * F.when(
            (F.col("__r") == 0)
            | (F.pmod(F.xxhash64(F.col("__r"), i), F.lit(2)) == 0),
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)).cast("float"),
    )
    write("embeddings", rep.select(
        (F.col("vec_id") + F.col("__r") * F.lit(K_OFF["vec_id"])).alias("vec_id"),
        flipped.cast("array<float>").alias("embedding"),
        "label",
    ))


def time_query(fn, spark, sf_dir: str, repeats: int = 2) -> float:
    best = math.inf
    for _ in range(repeats):
        # several queries persist() shared sub-plans (documented contract);
        # without this, the second run times a cache read, not the query
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def run_full_surface(spark, qs, sf1_dir: str) -> list[str]:
    """--full: every `queries()` entry once at sf0.1 and once at sf1 —
    the first full-surface sf1 run (VERDICT r05 missing-item #2).
    Single-shot per scale (the headline tier above carries the
    best-of-2 rigor); records wall, exponent, and the sf1/sf0.1 row-count
    ratio as a cheap sanity signal (most queries scale rows ~10x or
    stay fixed-size reports — a wild ratio means the scale-up broke an
    assumption, not that the query is wrong)."""
    rows = []
    for name, fn in qs.items():
        rec = {"q": name}
        for key, d in (("01", "/root/testdata/sf0.1"), ("1", sf1_dir)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, d)
            # noop write = full materialization (count() alone would let
            # Catalyst prune projection-only queries to nothing)
            df.write.format("noop").mode("overwrite").save()
            rec[f"t{key}"] = round(time.perf_counter() - t0, 2)
            rec[f"n{key}"] = df.count()
        rec["exponent"] = round(math.log10(rec["t1"] / max(rec["t01"], 0.01)), 2)
        rows.append(rec)
        print(f"  {name}: sf0.1 {rec['t01']}s/{rec['n01']}r  "
              f"sf1 {rec['t1']}s/{rec['n1']}r  exp {rec['exponent']}", flush=True)
    total01 = round(sum(r["t01"] for r in rows), 1)
    total1 = round(sum(r["t1"] for r in rows), 1)
    flagged = [r["q"] for r in rows if r["exponent"] > SUPERLINEAR_GATE]
    lines = [
        f"## Full {len(rows)}-query surface at sf1 (single-shot per scale)",
        "",
        f"Totals: sf0.1 **{total01} s**, sf1 **{total1} s** "
        f"(x{round(total1 / total01, 2)} for 10x data). "
        f"Queries above the {SUPERLINEAR_GATE} exponent gate: "
        f"{flagged or 'none'}.",
        "",
        "| query | sf0.1 s | sf1 s | exponent | rows sf0.1 | rows sf1 |",
        "|---|---|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda r: -r["exponent"]):
        mark = " **FLAG**" if r["exponent"] > SUPERLINEAR_GATE else ""
        lines.append(
            f"| {r['q']} | {r['t01']} | {r['t1']} | {r['exponent']}{mark} "
            f"| {r['n01']} | {r['n1']} |"
        )
    lines.append("")
    return lines


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark("sf1-bench")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    if not os.path.exists(f"{sf1_dir}/embeddings.parquet"):
        print(f"building sf1 scale-up at {sf1_dir}:", flush=True)
        build_sf1(spark, sf1_dir)
    qs = dict(entrymod.queries())
    rows = []
    for name in HEADLINE:
        t01 = time_query(qs[name], spark, "/root/testdata/sf0.1")
        t1 = time_query(qs[name], spark, sf1_dir)
        exp = math.log10(t1 / t01)
        rows.append(dict(q=name, t01=round(t01, 2), t1=round(t1, 2),
                         exponent=round(exp, 2)))
        print(f"  {name}: sf0.1 {t01:.2f}s  sf1 {t1:.2f}s  exp {exp:.2f}",
              flush=True)

    flagged = [r for r in rows if r["exponent"] > SUPERLINEAR_GATE]
    lines = [
        "# Headline-tier sf0.1 -> sf1 scaling (VERDICT r05 #2)",
        "",
        "Generated by `python tools/bench_sf1.py` (local[32], best-of-2 per"
        " scale per query; noop sink so write cost is excluded). The sf1"
        " input is the deterministic 10x scale-up described in the tool's"
        " docstring: disjoint-shingle documents, orthogonal-replica"
        " embeddings, FK-consistent key-offset TPC-H tables — shaped so"
        " WORKLOAD size scales 10x while per-key/group/bucket structure"
        " stays sf0.1's, making the exponent an ENGINE-scaling measure.",
        "",
        "exponent = log10(t_sf1 / t_sf0.1): 1.0 = linear, < 1 = fixed"
        " per-query overhead still amortizing (expected at these absolute"
        f" times), > {SUPERLINEAR_GATE} = super-linear -> flagged.",
        "",
        "| query | sf0.1 s | sf1 s | exponent |",
        "|---|---|---|---|",
    ]
    for r in rows:
        mark = " **FLAG**" if r["exponent"] > SUPERLINEAR_GATE else ""
        lines.append(f"| {r['q']} | {r['t01']} | {r['t1']} | {r['exponent']}{mark} |")
    lines += [
        "",
        f"Flagged super-linear: {[r['q'] for r in flagged] or 'none'}.",
        "",
        "## dedup_srp: the one expected flag, decomposed",
        "",
        "`srp_lsh_near_dups` at the driver's 16/4 calibration has 4-bit"
        " bands = 16 buckets/band, so spurious candidates grow as"
        " C(n,2)*bands/2^b — quadratic once n >> bands*2^b (n=20k:"
        " measured 78 s / 207k verified pairs). The documented scale knob"
        " (b ~ log2(n); here 96 bits / 8 bands = 12-bit bands) restores"
        " linear candidate growth — the `dedup_srp_scaled` row above (the oracle-verified driver query) —"
        " at the standard LSH recall trade (re-tune `bands` upward for"
        " the target threshold). Residual honesty note: at threshold"
        " 0.35 this derived corpus's TRUE pair set itself grows"
        " quadratically (sign-flip replicas leave cosine tails"
        " ~N(0, 1/sqrt(dim))), so full-recall output is quadratic for ANY"
        " algorithm; corpus-scale near-dup work belongs on the IVF-cell"
        " path (embedding_near_dups / semdedup), which bounds work by"
        " cell population. The 16/4 driver query remains the test-SF"
        " oracle-parity calibration form.",
        "",
    ]
    if "--full" in sys.argv:
        print("full query surface:", flush=True)
        lines += run_full_surface(spark, qs, sf1_dir)
    with open("/root/repo/BENCH_SF1.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote /root/repo/BENCH_SF1.md", flush=True)


if __name__ == "__main__":
    main()
