"""Similarity search over embedding columns (north-star surface).

Two tiers:

- **Brute-force cosine top-k** — the exact baseline: broadcast the query
  set, score every (query, candidate) pair with a JVM-side fold (no Python),
  rank per query. Linear scan; correct at any scale, cost O(N * Q * d).
- **IVF-style ANN** — restrict scoring to the query's coarse cell(s). The
  `label` column serves as the precomputed cell assignment (in production:
  k-means centroids trained on a sample, broadcast, cell = argmin distance;
  the plan shape — partition-prune by cell, then scan — is identical).
  Cost drops to O(N/cells * Q * d) with the standard recall trade-off.

Numeric contract: elements cast float->double *before* any arithmetic, dot
products folded left-to-right (`aggregate`), so results are deterministic
and reproducible by the DuckDB oracle; final cosines are rounded to 6
decimals to absorb any engine-side summation-order differences.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flinkproject_spark.catalog import local_path


def _dot(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm once (reused across every pair the row joins into)."""
    e = embeddings.withColumn("emb", F.col(vec_col))
    return e.withColumn("norm", F.sqrt(_dot("emb", "emb")))


def cosine_expr(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    return _dot(a, b) / (F.col(norm_a) * F.col(norm_b))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is tiny -> broadcast nested-loop join against the full
    collection (one scan, no shuffle of the big side); ranking is a
    per-query window over k rows. Ties break by neighbor id.

    `normed` (r12): a caller that runs SEVERAL pipelines over the same
    collection (the recall reports score an exact and an approximate arm)
    passes ONE shared `with_norm(embeddings)` frame — typically lazily
    checkpointed — so the scan+norm subtree executes once instead of once
    per arm; values are identical by construction.
    """
    e = normed if normed is not None else with_norm(embeddings)
    queries = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        F.broadcast(queries)
        .join(cands, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_expr("q_emb", "c_emb", "q_norm", "c_norm"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-batch partial top-k pruning — NARROW (no shuffle): each Arrow
    batch keeps only its own per-query top-k of the already-scored
    (query_id, neighbor_id, cosine) triples, so the global ranking window's
    exchange carries O(batches * Q * k) 3-column rows instead of every
    scored candidate (and never the embedding payload). A batch's top-k is
    a superset of its contribution to the global top-k, so the final
    window over the pruned set is exact."""
    from typing import Iterator

    import pandas as pd

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "cosine", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

    return scored.select("query_id", "neighbor_id", "cosine").mapInPandas(
        prune, "query_id bigint, neighbor_id bigint, cosine double"
    )


def cosine_topk_ivf(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """ANN top-k probing only the query's own coarse cell (label).

    Same ranking contract as the brute-force tier; candidates are
    cell-pruned before scoring. At 100 TB the collection is stored
    partitioned by cell, so the probe is a partition-pruned scan.
    Scoring is JVM-side; a narrow per-batch partial top-k then prunes
    candidates before the global per-query rank (see _partial_topk), so
    the one shuffle is O(batches * Q * k), not O(cell population)."""
    e = with_norm(embeddings)
    queries = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_cell"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_cell"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        F.broadcast(queries)
        .join(
            cands,
            (F.col("q_cell") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cosine", F.round(cosine_expr("q_emb", "c_emb", "q_norm", "c_norm"), 6))
    )
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_topk_vectorized(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Arrow-vectorized exact top-k — the 100 TB form of the brute-force
    tier, same output contract.

    The JVM fold in `_dot` is a higher-order lambda: correct, but it runs on
    Spark's interpreted expression path (no codegen — the same pitfall
    measured 17x on shingles, dedup.py) and scores one pair at a time. Here
    the tiny query set is collected once (it IS the broadcast side) and each
    Arrow batch of candidates is scored as ONE numpy matmul (Q x d) @ (d x
    m); only each batch's per-query top-k survives to the final global
    ranking, so the shuffle carries O(batches * Q * k) rows regardless of
    collection size.

    Cross-engine note: float64 matmul accumulates in a different order than
    the left-to-right fold; rounding to 6 decimals (the module contract)
    absorbs it — verified against the same DuckDB oracle as brute-force.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    qrows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["embedding"].tolist(), dtype=np.float64)  # (m, d)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(Qn @ Cn.T, 6)  # (Q, m)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(q_ids)):
                s = S[qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                take = min(k, len(cand_idx))
                # partial top-k inside the batch, (cosine desc, id asc) order
                part = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))[:take]]
                out_q.extend([q_ids[qi]] * len(part))
                out_n.extend(ids[part])
                out_c.extend(s[part])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-cell centroid + population — the 'train the coarse quantizer'
    half of IVF.

    Scalable formulation: posexplode to (label, dim, value) rows and
    aggregate per (label, dim) — partial aggregation runs map-side, no
    per-group vector materialization (a collect_list per label would bound
    group size by executor memory; this doesn't).

    Production shape: train ONCE on a sample and persist the (tiny)
    centroid table; recomputing per query invocation — as the self-contained
    oracle queries here do — is wasteful at scale.
    """
    exploded = embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    per_dim = exploded.groupBy("label", "dim").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    return (
        per_dim.withColumn("m", F.col("s") / F.col("n"))
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(
                F.collect_list(F.struct("dim", "m"))
            ).getField("m").alias("centroid"),
        )
    )


def cluster_assign(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for every vector — the IVF 'assign' step
    as a standalone operator (one k-means Lloyd half-iteration; also the
    embedding-space classifier a pipeline uses to route documents to
    domain buckets).

    Plan: the centroid table is tiny (one row per label) -> broadcast cross
    join, rank per vector, keep the argmax. The big side is scanned once,
    never shuffled on data: the argmax is a struct-max AGGREGATE over the
    N x C scored rows grouped by vec_id — partial-aggregating map-side, so
    the exchange carries one pre-reduced row per vector, not a global
    window sort over all scored pairs.
    """
    e = with_norm(embeddings)
    cents = label_centroids(embeddings).select(
        F.col("label").alias("c_label"), F.col("centroid").alias("cent")
    )
    cents = cents.withColumn("cent_norm", F.sqrt(_dot("cent", "cent")))
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(_dot("emb", "cent") / (F.col("norm") * F.col("cent_norm")), 6).alias("cos"),
    )
    # max_by with a (cos, -c_label) struct: highest cosine, lowest label on
    # ties — a partial-aggregating argmax, no global window sort
    best = scored.groupBy("vec_id", "label").agg(
        F.max(F.struct(F.col("cos"), (-F.col("c_label")).alias("neg_label"))).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        (-F.col("b.neg_label")).cast("bigint").alias("assigned_label"),
        F.col("b.cos").alias("cosine"),
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact ground truth —
    the metric that justifies a cell-probe parameter choice. Both inputs use
    the (query_id, rank, neighbor_id, cosine) contract."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hit = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    return (
        e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
        .join(hit.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
             / F.col("n_exact").cast("double")).alias("recall"),
        )
    )


def cosine_topk_ivf_nprobe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    normed: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k probing the `nprobe` nearest cells by query->centroid
    cosine — the real IVF search loop (cosine_topk_ivf's single stored
    cell is the nprobe=1 degenerate case) and the standard recall knob:
    more probes, more candidates, higher recall, same per-cell cost.

    Plan shape: queries x centroids is a tiny broadcast cross join ranked
    per query; the probe list then broadcast-joins the collection on cell
    id, so the only big-data work is a partition-prunable scan of the
    probed cells (collection stored partitioned by cell at scale).

    `centroids`: pass the persisted quantizer table (label_centroids
    output, trained once on a sample) — the production shape; when None
    the quantizer is recomputed from the collection, the self-contained
    oracle form. `normed`: a shared with_norm(embeddings) frame (see
    cosine_topk_bruteforce — the recall-report scan-sharing hook, r12)."""
    e = normed if normed is not None else with_norm(embeddings)
    cents = (centroids if centroids is not None else label_centroids(embeddings)
             ).select("label", F.col("centroid").alias("cent"))
    cents = cents.withColumn("cent_norm", F.sqrt(_dot("cent", "cent")))
    queries = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    qc = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cell_cos",
        F.round(_dot("q_emb", "cent") / (F.col("q_norm") * F.col("cent_norm")), 6),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), F.asc("label"))
    probes = (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "label", "q_emb", "q_norm")
    )
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_cell"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        F.broadcast(probes)
        .join(
            cands,
            (F.col("label") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cosine", F.round(cosine_expr("q_emb", "c_emb", "q_norm", "c_norm"), 6))
    )
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def quantization_report(embeddings: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric per-vector integer quantization audit — the compression
    step an embedding store runs before serving (float32 -> int8 is 4x
    smaller and SIMD-friendly): scale = max|v| / (2^(bits-1) - 1),
    q = round(v / scale), dequant = q * scale. Reports per-vector scale and
    the reconstruction cosine against the original — the number that
    decides whether int8 is safe for a given collection.

    Pure JVM expressions (transform/aggregate lambdas over the array);
    deterministic: identical IEEE ops in the DuckDB oracle, cosines
    rounded to 6 decimals per the module contract. One narrow pass over
    the collection, no shuffle.
    """
    qmax = float(2 ** (bits - 1) - 1)
    e = with_norm(embeddings)
    mx = F.array_max(F.transform(F.col("emb"), lambda v: F.abs(v.cast("double"))))
    e = e.withColumn("scale", mx / F.lit(qmax))
    deq = F.transform(
        F.col("emb"),
        lambda v: F.round(v.cast("double") / F.col("scale"), 0) * F.col("scale"),
    )
    e = e.withColumn("deq", deq).withColumn("deq_norm", F.sqrt(_dot("deq", "deq")))
    return e.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.round(_dot("emb", "deq") / (F.col("norm") * F.col("deq_norm")), 6).alias(
            "recon_cosine"
        ),
    )


# ---------------------------------------------------------------------------
# product quantization (IVFADC-style compressed scoring)
# ---------------------------------------------------------------------------
PQ_SCALE = 1000  # same int64 quantization contract as the SRP tier


def _pq_projection(m: int, sub_dim: int, bits: int):
    """Deterministic integer hyperplanes for the per-subspace bucketing:
    p[block][t][bit] = hash64-style md5 constant in [-1000, 1000] — the
    'pq:{block}:{bit}:{t}' namespace keeps subspace families independent
    of the SRP tier's 'srp:{dim}:{bit}' family. Exactly reproducible by
    the oracle's SQL regeneration (same md5-prefix -> int -> mod trick)."""
    import hashlib

    import numpy as np

    P = np.zeros((m, sub_dim, bits), dtype=np.int64)
    for b in range(m):
        for j in range(bits):
            for t in range(sub_dim):
                h = int(
                    hashlib.md5(f"pq:{b}:{j}:{t}".encode()).hexdigest()[:15], 16
                )
                P[b, t, j] = h % 2001 - 1000
    return P


def pq_encode(embeddings: DataFrame, m: int = 16, bits: int = 6) -> DataFrame:
    """Product-quantization encoding: split each vector into `m`
    subvectors and assign each to one of 2^bits codewords per subspace.

    The codeword assignment is HASH-partitioned (sign bits of `bits`
    deterministic integer hyperplanes per subspace — the SRP trick applied
    subspace-wise) rather than k-means argmin: marginally coarser cells,
    but fully deterministic and therefore cross-engine verifiable, the
    module's standing contract. Codebook VALUES still come from the data
    (cell means, see pq_codebook), so reconstruction adapts to the
    distribution even though cell BOUNDARIES are data-independent.

    Exactness: embeddings quantize to int64 (round(v*1000),
    half-away-from-zero), projections are integer — the code is exact
    integer arithmetic, bit-identical across numpy/executors/DuckDB.

    One mapInPandas pass, no shuffle; emits the long form
    (vec_id, block, code, qsub) — qsub is the int64-quantized subvector
    that downstream codebook/ADC arithmetic consumes exactly.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        P = None
        sub = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Y = X * PQ_SCALE
            Q = (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int64)
            if P is None:
                if Q.shape[1] % m != 0:
                    raise ValueError(
                        f"pq_encode: embedding dim {Q.shape[1]} is not "
                        f"divisible by m={m} subspaces — trailing dims "
                        "would be silently dropped from codes (ADVICE "
                        "r07); pick m | d or pad the vectors"
                    )
                sub = Q.shape[1] // m
                P = _pq_projection(m, sub, bits)
            n = len(pdf)
            w = 1 << np.arange(bits, dtype=np.int64)
            codes = np.empty((n, m), dtype=np.int64)
            for b in range(m):
                S = Q[:, b * sub : (b + 1) * sub]
                codes[:, b] = ((S @ P[b]) >= 0) @ w
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "block": np.tile(np.arange(m, dtype=np.int64), n),
                    "code": codes.reshape(-1),
                    "qsub": list(Q.reshape(n * m, sub)),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, "vec_id bigint, block bigint, code bigint, qsub array<bigint>"
    )


def pq_codebook(enc: DataFrame) -> DataFrame:
    """Codeword table from encoded rows: per (block, code) the member
    count and the EXACT integer per-dimension sum (the codeword mean is
    kept as the rational sum/count — never a rounded float — so ADC dot
    products against it stay deterministic).

    Scalable shape: posexplode to (block, code, t, qv) and aggregate —
    map-side partial sums, no per-cell vector materialization (same
    argument as label_centroids). Output is tiny: m * 2^bits rows.
    """
    ex = enc.select("block", "code", F.posexplode("qsub").alias("t", "qv"))
    per = ex.groupBy("block", "code", "t").agg(
        F.sum("qv").alias("s"), F.count("*").alias("cnt")
    )
    return per.groupBy("block", "code").agg(
        F.max("cnt").alias("n"),
        F.array_sort(F.collect_list(F.struct("t", "s"))).getField("s").alias("S"),
    )


def pq_auto_rerank(n_vectors: int, r0: int = 100, n0: int = 2000) -> int:
    """Corpus-size-aware rerank shortlist (VERDICT r07 task 5): R grows
    ~sqrt(corpus) in power-of-two steps — R = r0 * 2^ceil(log2(n/n0)/2),
    floored at r0. BENCH_PQ_SCALE.md measured WHY: a FIXED R=100 recall
    sags 0.80 -> 0.72 as distractor mass grows 16x, while R doubled per
    4x corpus holds 0.96 — the shortlist must keep pace with the number
    of distractors whose ADC score beats true neighbors by quantization
    luck, which grows ~linearly in n with a sqrt-n safe margin at these
    recall targets. Power-of-two steps keep the formula exact in IEEE
    doubles at every breakpoint (n/n0 = 4^j is exactly representable and
    log2 of it exact), so the DuckDB oracle regenerates the identical R
    from count(*) — the same adaptive-knob-as-code contract as
    dedup.srp_recommended_banding."""
    import math

    if n_vectors <= n0:
        return r0
    return r0 * (1 << math.ceil(math.log2(n_vectors / n0) / 2))


def _adc_table(enc: DataFrame, query_ids: list[int]) -> DataFrame:
    """Per-query ADC lookup table from the encoded corpus: (query_id,
    block, code, term) where term = (exact int dot of the query subvector
    with the codeword SUM) / n / 1e6 — two IEEE divisions of exact
    integers, the determinism contract pq_adc_topk documents. Q x m x
    2^bits rows (kilobytes for a serving probe set)."""
    cb = pq_codebook(enc)
    qs = enc.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "block", F.col("qsub").alias("qq")
    )
    num = F.aggregate(
        F.zip_with("qq", "S", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return qs.join(cb, "block").select(
        "query_id",
        "block",
        "code",
        (
            (num.cast("double") / F.col("n").cast("double"))
            / F.lit(float(PQ_SCALE * PQ_SCALE))
        ).alias("term"),
    )


def _adc_shortlist(scored: DataFrame, m: int, shortlist_k: int) -> DataFrame:
    """Fold per-(query, candidate) block terms into the ADC score and rank:
    the m terms are pivoted into fixed columns and added in FIXED block
    order (t0 + t1 + ... + t{m-1}, never a commutative SUM), rounded to
    6 dp before ranking, so the oracle reproduces scores AND tie-breaks
    bit-for-bit. Input (query_id, neighbor_id, block, term); output the
    (query_id, rank, neighbor_id, adc_score) shortlist."""
    from functools import reduce

    per_pair = scored.groupBy("query_id", "neighbor_id").agg(
        *[
            F.sum(F.when(F.col("block") == b, F.col("term"))).alias(f"t{b}")
            for b in range(m)
        ]
    )
    score = F.round(
        reduce(lambda a, b: a + b, [F.col(f"t{b}") for b in range(m)]), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    return (
        per_pair.withColumn("adc_score", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= shortlist_k)
        .select("query_id", "rank", "neighbor_id", "adc_score")
    )


def _exact_rerank(
    embeddings: DataFrame,
    shortlist: DataFrame,
    query_ids: list[int],
    k: int,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Refine stage shared by the compressed tiers: exact cosine on the
    Q x R shortlist only (broadcast the tiny id list against the
    collection — full vectors never shuffle), reusing the brute-force
    tier's rounded-cosine ranking contract. `normed`: shared
    with_norm(embeddings) frame (recall-report scan sharing, r12)."""
    e = normed if normed is not None else with_norm(embeddings)
    qvecs = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cvecs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    resc = (
        cvecs.join(
            F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id"
        )
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cosine", F.round(cosine_expr("q_emb", "c_emb", "q_norm", "c_norm"), 6)
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        resc.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 16,
    bits: int = 6,
    rerank: int | str | None = None,
    broadcast_adc: bool = True,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Compressed top-k via Asymmetric Distance Computation (Jegou et al.
    2011, the IVFADC search half): each candidate is scored from its m
    PQ codes alone — score = sum over blocks of dot(query_subvector,
    codeword_mean) — via a precomputed per-query lookup table, never
    touching the candidate's full vector.

    Why this is THE 100 TB path: candidates shrink from d floats to m
    codes (64x smaller at m=16/6-bit on d=64 float32), the scan reads
    only (vec_id, block, code), and per-candidate cost is m table
    lookups instead of d multiplies. The ADC table (Q x m x 2^bits rows)
    is broadcast — sized for a SERVING probe set (Q up to ~10^2 keeps it
    kilobytes); a bulk offline query batch should drop the broadcast
    hint and let the (block, code) equi-join shuffle instead. The only
    shuffle here is the per-(query, candidate) aggregation, which
    partial-aggregates map-side.

    `rerank=R` enables the standard refine stage: ADC ranks a shortlist
    of R candidates per query, then ONLY those R rows are re-scored with
    their exact vectors (a broadcast of Q*R ids against the collection —
    the full-precision fetch an IVFADC serving node does from its raw
    store) and the exact top-k is returned with true cosines. Measured on
    the synthetic corpus (m=16, bits=6): shortlist@100 contains 49/50 of
    the exact top-10 at sf0.01 -> recall@10 = 0.98 after rerank (0.88 on
    the sf0.001 regeneration), vs 0.46 raw ADC.
    Fixed R means the re-scored fraction SHRINKS as the corpus grows —
    and recall sags with it (BENCH_PQ_SCALE.md: 0.80 -> 0.72 at 16x).
    `rerank="auto"` sizes R from the corpus count via
    :func:`pq_auto_rerank` (one metadata-backed count(), R ~ sqrt(n) in
    power-of-two steps) — the scale-safe default for serving a growing
    corpus, oracle-verifiable because the formula is reproducible SQL.

    `broadcast_adc=False` is the BULK-mode switch the broadcast note
    below documents: for an offline query batch too large for a
    kilobyte-scale ADC table (Q x m x 2^bits rows grows with Q), drop
    the broadcast hint and let the (block, code) equi-join pick its own
    strategy (AQE broadcasts when it fits, shuffles otherwise). Output
    is identical; only the join strategy moves (parity + plan pinned by
    test, wall measured in BENCH_PQ_SCALE.md).

    Determinism contract: the table term is (exact int dot of the query
    subvector with the codeword SUM) / n / 1e6 — two IEEE divisions of
    exact integers; the final score adds the m block terms in FIXED
    block order (t0 + t1 + ... + t{m-1}, not a commutative SUM), then
    rounds to 6 dp before ranking, so the oracle reproduces scores AND
    tie-breaks bit-for-bit. The rerank stage reuses the brute-force
    tier's rounded-cosine contract.

    Returns (query_id, rank, neighbor_id, adc_score) — or with rerank,
    (query_id, rank, neighbor_id, cosine) — the top-k contract shared
    with the exact tiers, ready for recall_at_k calibration.
    """
    if isinstance(rerank, str):
        if rerank != "auto":
            raise ValueError(
                f"pq_adc_topk: rerank={rerank!r} — the only string mode "
                "is 'auto' (corpus-sized R via pq_auto_rerank); pass an "
                "int for an explicit shortlist"
            )
        rerank = pq_auto_rerank(embeddings.count())
    shortlist_k = rerank if rerank is not None else k
    # The encoded frame feeds three branches of the ONE returned plan
    # (codebook, query rows, candidate rows). localCheckpoint instead of
    # persist (ADVICE r07): blocks are reclaimed by the ContextCleaner as
    # soon as the checkpointed RDD is unreferenced, so repeated callers
    # (q_pq_recall_report runs two of these per report) don't accumulate
    # executor storage for the session lifetime the way an unpaired
    # .persist() does. Eager: one materialization job here, then every
    # branch reads the stored blocks — same total work as the persist.
    enc = pq_encode(embeddings, m, bits).localCheckpoint(eager=False)
    adc = _adc_table(enc, query_ids)
    cands = enc.select(F.col("vec_id").alias("neighbor_id"), "block", "code")
    adc_side = F.broadcast(adc) if broadcast_adc else adc
    scored = cands.join(adc_side, ["block", "code"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    shortlist = _adc_shortlist(scored, m, shortlist_k)
    if rerank is None:
        return shortlist
    return _exact_rerank(embeddings, shortlist, query_ids, k, normed=normed)


# ---------------------------------------------------------------------------
# trained coarse quantizer (Lloyd's k-means in exact int64 arithmetic)
# ---------------------------------------------------------------------------
KM_SCALE = 1000  # same round(v*1000) -> int64 contract as the SRP/PQ tiers
KM_TARGET_CELL_ROWS = 100  # auto-k targets ~100-row cells until K_MAX binds
KM_K_MAX = 256  # exact-assignment cost cap: n*k*d stays O(n) past the cap
# Fit-arithmetic version: BUMP whenever kmeans_fit / kmeans_fit_sampled /
# the quantize-assign-update kernels change their OUTPUT for the same
# input (new seeding, different update rule, changed auto-k formula...).
# Persisted-model caches (e.g. __spark_entry__._kmeans_model) fold this
# into their fingerprint so a code change invalidates stored centroids
# automatically instead of serving a stale fit the oracle can no longer
# replay (r10 review).
KMEANS_FIT_VERSION = 2  # v2 = r10 sample-size guard era


def _km_quantize(vec_col: str = "embedding") -> Column:
    """round(v*1000) -> int64, half-away-from-zero (matches SQL round())."""
    return F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * KM_SCALE, 0).cast("bigint")
    )


def kmeans_auto_k(
    n_vectors: int,
    target_cell_rows: int = KM_TARGET_CELL_ROWS,
    k_max: int = KM_K_MAX,
) -> int:
    """k sized from the corpus count, same discipline as
    srp_recommended_banding: the quantizer's JOB is bounding per-cell work
    (SemDeDup / IVF / embedding_near_dups all do O(cell^2) or O(cell)
    inside cells), so k must GROW with n — a fixed k is the measured
    quadratic failure mode (BENCH_SF10.md, fixed 10-label quantizer).
    k = clamp(ceil(n / target_cell_rows), 2, k_max).

    The k_max clamp is the OTHER half of the scale contract: exact
    assignment costs n*k*d, so uncapped k = n/target is itself quadratic
    (the same third-decade trap, one level up). Capping k makes
    assignment O(n * k_max * d) — linear with a bounded constant — and
    hands cell-size control past the cap to the consumers'
    max_cell_rows sub-split (dedup._refine_oversized_cells, measured
    linear-restoring in BENCH_SF10.md): the quantizer routes, the
    sub-split bounds. Raising k_max buys finer cells at linear-in-k cost
    — the FAISS-style k ~ sqrt(n) regime needs ANN-assisted assignment,
    which would break this tier's exact cross-engine verification."""
    import math

    return min(k_max, max(2, math.ceil(n_vectors / target_cell_rows)))


# Bytes of source input that justify ONE Python-crossing assignment task.
# Guide §4/§6: Arrow tasks must carry enough rows to amortize the worker
# round-trip, and task count should derive from INPUT SIZE, not the core
# count — a constant-per-core fan-out turns a kilobyte collection into
# dozens of near-empty Python calls per Lloyd pass (r12 measurement:
# 3 iterations x 32 near-empty tasks at test SFs), while at 100 TB the
# split count exceeds the cluster and this path never fires at all.
KM_TASK_TARGET_BYTES = 4 << 20


def _km_parallelize(q: DataFrame) -> DataFrame:
    """Minimum-parallelism guard for the assignment passes: a small
    parquet collection can arrive as ONE input split (the sf10 screen
    caught the whole n*k*d fold running on a single task), while at real
    scale the file count already exceeds the cluster — so the repartition
    fires only when input splits < defaultParallelism and is a no-op
    decision (not a shuffle) otherwise.

    The fan-out target is INPUT-SIZE-derived (r12): ceil(source bytes /
    KM_TASK_TARGET_BYTES), clamped to [splits, defaultParallelism] — a
    tiny collection keeps its one split (no repartition, no per-iteration
    32-way Python fan-out), a large under-split input still spreads to
    the full parallelism. Partitioning never changes results here: the
    Lloyd partials are order-free int64 sums and assignment is per-row."""
    sc = q.sparkSession.sparkContext
    splits = q.rdd.getNumPartitions()
    par = sc.defaultParallelism
    if splits >= par:
        return q
    files = q.inputFiles()
    try:
        nbytes = sum(os.path.getsize(local_path(p)) for p in files)
        reason = f"{len(files)} input file(s), {nbytes} bytes"
    except (OSError, ValueError) as ex:  # non-local / unsizable source
        nbytes, reason = 0, ex
    if nbytes > 0:
        import math

        want = min(par, max(splits, math.ceil(nbytes / KM_TASK_TARGET_BYTES)))
    else:
        logging.getLogger(__name__).warning(
            "_km_parallelize: input size unknown (%s); spreading %d split(s) "
            "to defaultParallelism=%d",
            reason,
            splits,
            par,
        )
        want = par
    if want <= splits:
        return q
    return q.repartition(want)


def _km_assign(q: DataFrame, cent) -> DataFrame:
    """One Lloyd assignment step: nearest centroid by EXACT int64 squared
    L2, ties broken to the smallest cid — deterministic across engines
    and executor counts. `cent` is a (cid, cent) DataFrame or a
    pre-collected list of such rows (the fit loop hands the driver-side
    k-row update result straight back in, saving a collect job per
    iteration — r11 optimization).

    Execution: the k<=KM_K_MAX centroid rows are collected (bounded
    metadata, the same discipline as the IVF query-vector set) and the
    n x k distance matrix per Arrow batch is ONE numpy BLAS call —
    d2 = |x|^2 - 2x.C^T + |c|^2 in float64. This is still EXACT integer
    arithmetic: every product and partial sum is an integer bounded by
    dim * KM_SCALE^2 * |v|max^2 << 2^53, so float64 represents each
    intermediate exactly and argmin sees the same integers the SQL twin
    computes. (The first form of this operator — a zip_with/aggregate
    fold per crossJoin row — was JVM-side but INTERPRETED: higher-order
    array expressions don't enter codegen, and the sf10 screen measured
    the fold at ~10^6 element-ops/s/core. The matmul form is the same
    trade srp_signatures makes, ~100x on the measured tier.)
    np.argmin returns the FIRST minimum, and centroids are sorted by
    cid, so the tie-break is identical to the oracle's ORDER BY d2, cid.
    """
    import numpy as np
    import pandas as pd

    if isinstance(cent, list):
        rows = sorted(cent, key=lambda r: r[0])
    else:
        rows = sorted(cent.select("cid", "cent").collect(), key=lambda r: r.cid)
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    from pyspark.sql import types as T

    in_fields = list(q.schema.fields)
    out_schema = T.StructType(
        in_fields
        + [
            T.StructField("cid", T.LongType()),
            T.StructField("d2", T.LongType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["qv"].tolist(), dtype=np.float64)
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            j = d.argmin(axis=1)
            out = pdf.copy()
            out["cid"] = cids[j]
            out["d2"] = d[np.arange(len(j)), j].astype(np.int64)
            yield out

    return q.mapInPandas(assign, out_schema)


def _km_iterate(q: DataFrame, cent_rows: list) -> DataFrame:
    """One fused Lloyd iteration: assignment AND the update's map-side
    partial aggregation inside the same vectorized kernel — each task
    emits ONE (cid, n, sums array<bigint>) partial per non-empty cell
    instead of returning n assigned vectors for a posexplode'd
    (cid, pos) shuffle of n*dim rows. The shuffle that recomputes
    centroids thus carries <= tasks * k rows (k*dim ints each) at ANY
    corpus size — the 'aggregate before you shuffle' move (the r08 form
    shipped n*dim exploded rows and leaned on JVM map-side combine; this
    does the combine in the SAME numpy pass the argmin already paid for).

    Exactness is unchanged: per-cell partial sums are int64 adds of the
    quantized values (bounded by n * KM_SCALE * |v|max, no overflow
    where the previous JVM sum had none, order-free), Spark sums the
    partials in int64, and the final per-dimension m = FLOOR(sum/count)
    divides the identical totals in the identical double division —
    exact because the true quotient is >= 1/count away from the nearest
    other integer. Clusters that lose every member drop out, identically
    in the SQL twin.

    Returns the per-DIMENSION update frame (cid, pos, m, n) — <= k*dim
    rows (bounded metadata: k <= KM_K_MAX, dim fixed) behind a SINGLE
    (cid, pos) exchange; the caller (:func:`_km_lloyd_rows`) assembles
    the centroid arrays driver-side from the collected rows. The r11
    form added a second groupBy(cid) exchange + array_sort/collect_list
    just to build arrays the driver immediately collected and unpacked
    again — one whole shuffle stage per iteration spent re-shaping
    metadata (r12, guide §2.4)."""
    import numpy as np
    import pandas as pd

    rows = sorted(cent_rows, key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    k, dim = C.shape

    def assign_partials(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["qv"].tolist(), dtype=np.float64)
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            j = d.argmin(axis=1)
            np.add.at(sums, j, X.astype(np.int64))
            np.add.at(counts, j, 1)
        hit = counts > 0
        if not hit.any():
            return
        yield pd.DataFrame(
            {
                "cid": cids[hit],
                "n": counts[hit],
                "sums": list(sums[hit]),
            }
        )

    partials = q.mapInPandas(
        assign_partials, "cid bigint, n bigint, sums array<bigint>"
    )
    dims = partials.select("cid", "n", F.posexplode("sums").alias("pos", "v"))
    return dims.groupBy("cid", "pos").agg(
        F.floor(F.sum("v") / F.sum("n")).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("n"),
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int | None = None,
    n_iter: int = 3,
    target_cell_rows: int = KM_TARGET_CELL_ROWS,
) -> DataFrame:
    """Train the coarse quantizer the IVF/SemDeDup docstrings reference —
    Lloyd's k-means as pure DataFrame ops in EXACT int64 arithmetic, so
    the fit itself (not just its use) is bit-reproducible by the DuckDB
    oracle: vectors quantized round(v*1000), distances integer squared L2
    with cid tie-breaks, centroid updates floor(sum/count).

    Init is deterministic hash-rank seeding: the k vectors with smallest
    (md5-hash64('km:' || vec_id), vec_id) — orderBy+limit compiles to
    TakeOrdered (per-partition top-k, no global sort), then cids 0..k-1
    are assigned by a window over those k rows only. `k=None` derives k
    from the corpus count via :func:`kmeans_auto_k` (the oracle
    regenerates the same formula from COUNT(*)), so the DEFAULT form is
    the scale-safe one — expected cell size pinned at `target_cell_rows`
    regardless of corpus scale.

    Each iteration is ONE distributed job: a shuffle-free assignment pass
    (driver-held k-row centroid closure, exact numpy matmul per Arrow
    batch — see :func:`_km_assign`) fused into the (cid, pos)-keyed
    update shuffle (bounded by n*dim rows, map-side partials), whose
    k-row result is collected straight back to the driver — the SAME
    bounded-metadata collect the assignment closure already requires, so
    the per-iteration localCheckpoint + re-collect of the r08 form (two
    extra job launches per iteration) and the separate final population
    pass (which re-ran the whole assignment subplan) are gone; lineage
    is cut by construction because each iteration starts from a local
    relation (r11 optimization, measured ~2x on the fit at sf0.1).
    At 100 TB: train on a SAMPLE (the statistics of cell boundaries
    converge long before the full corpus) with k computed from the FULL
    count, then :func:`kmeans_assign` the corpus in one pass.

    Returns (cid, cent array<bigint>, n) where n is the member count of
    the assignment step that PRODUCED these centroids.

    Reference parity: the reference has no trainer (its IVF analog uses
    precomputed labels, as did this module before round 8); public
    formulation per Lloyd 1982 / Jegou et al. 2011 (coarse quantizer of
    IVFADC).
    """
    return embeddings.sparkSession.createDataFrame(
        _kmeans_fit_rows(embeddings, k, n_iter, target_cell_rows),
        "cid bigint, cent array<bigint>, n bigint",
    )


def _kmeans_fit_rows(
    embeddings: DataFrame,
    k: int | None = None,
    n_iter: int = 3,
    target_cell_rows: int = KM_TARGET_CELL_ROWS,
) -> list:
    """kmeans_fit's core, returning the (cid, cent, n) tuples the loop
    already holds driver-side — in-repo consumers that immediately hand
    the centroids to an assignment kernel closure (kmeans_assign's
    inline-fit path) skip the createDataFrame+collect round-trip (r12)."""
    q = _km_quantized_input(embeddings)
    if k is None:
        # the corpus count (for auto-k) and the seed top-k are independent
        # jobs; run them concurrently (guide §2.6) with the seed fetch
        # overfetched to KM_K_MAX — auto-k can never exceed it, so slicing
        # the first k of the SAME (h, vec_id) total order is identical to
        # a limit(k) issued after the count came back
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_n = pool.submit(embeddings.count)
            f_seeds = pool.submit(_km_seed_rows, q, KM_K_MAX)
            n, seed_rows = f_n.result(), f_seeds.result()
        k = kmeans_auto_k(n, target_cell_rows)
    else:
        seed_rows = _km_seed_rows(q, k)
    return _km_lloyd_rows(q, seed_rows, k, n_iter)


def _km_quantized_input(embeddings: DataFrame) -> DataFrame:
    """The trainer's quantized input, materialized once (lazy — the seed
    job pays it): the n_iter Lloyd passes re-read the SAME rows, and
    without the checkpoint each pass re-runs scan+quantize+repartition.
    At 100 TB the production entry point is kmeans_fit_sampled, so what
    is pinned is the n/sample_mod training sample, not the corpus."""
    return _km_parallelize(
        embeddings.select("vec_id", _km_quantize().alias("qv"))
    ).localCheckpoint(eager=False)


def _km_seed_rows(q: DataFrame, limit: int) -> list:
    """Hash-rank seed fetch: the `limit` rows with smallest
    (md5-hash64('km:' || vec_id), vec_id), returned IN that order
    (orderBy+limit compiles to TakeOrdered — per-partition top-k, no
    global sort — and the collected result preserves the order, so the
    caller's slice-plus-enumerate reproduces the row_number cid
    assignment exactly)."""
    from flinkproject_spark import functions as K

    h = K.hash64(F.concat(F.lit("km:"), F.col("vec_id").cast("string")))
    return q.withColumn("h", h).orderBy("h", "vec_id").limit(limit).collect()


def _km_lloyd_rows(q: DataFrame, seed_rows: list, k: int, n_iter: int) -> list:
    """The Lloyd loop over a quantized input and pre-fetched seed rows:
    one collect per iteration — the fused assign+partial-update job's
    <= k*dim (cid, pos, m, n) result is assembled into centroid arrays
    HERE (bounded metadata, the same k-row closure _km_assign already
    collects), seeding the next round. Returns the sorted
    (cid, cent list, n) tuples so in-repo consumers (kmeans_assign's
    inline-fit path, ivf_pq_topk's fused kernel) can hand the closure
    straight to the next kernel without a createDataFrame+collect
    round-trip per fit (r12)."""
    cent_rows = [
        (i, list(r["qv"]), 0) for i, r in enumerate(seed_rows[:k])
    ]
    for _ in range(n_iter):
        acc: dict[int, list] = {}
        for r in _km_iterate(q, cent_rows).collect():
            acc.setdefault(int(r["cid"]), []).append(
                (int(r["pos"]), int(r["m"]), int(r["n"]))
            )
        cent_rows = [
            # every pos row of a cell carries the same member count
            (cid, [m for _, m, _ in sorted(dims)], dims[0][2])
            for cid, dims in acc.items()
        ]
    return sorted(cent_rows)


def kms_sample_member(sample_mod: int):
    """The sampled trainer's membership predicate, factored once —
    md5-hash64('kms:' || vec_id) mod sample_mod == 0 — so callers that
    need their own corpus aggregate (ivf_pq_topk's auto path) can fold
    the sample count into it instead of paying a second scan.

    The sample_mod >= 1 guard lives HERE so every consumer fails loudly
    before any job runs — pmod(h, 0) is a DIVIDE_BY_ZERO under ANSI and
    a silent empty sample otherwise (r11 review: the factored helper
    initially left ivf_pq_topk's aggregate unguarded)."""
    from flinkproject_spark import functions as K

    if sample_mod < 1:
        raise ValueError(
            f"kms_sample_member: sample_mod must be >= 1, got {sample_mod}"
        )
    h = K.hash64(F.concat(F.lit("kms:"), F.col("vec_id").cast("string")))
    return F.pmod(h, F.lit(sample_mod)) == 0


def kmeans_fit_sampled(
    embeddings: DataFrame,
    sample_mod: int = 4,
    k: int | None = None,
    n_iter: int = 3,
    target_cell_rows: int = KM_TARGET_CELL_ROWS,
    counts: tuple[int, int] | None = None,
) -> DataFrame:
    """The 100 TB production shape of the trainer: fit on a DETERMINISTIC
    hash sample of the corpus with k derived from the FULL count, then
    :func:`kmeans_assign` the corpus in one pass against the (persisted)
    centroids. Cell-boundary statistics converge long before the full
    corpus, so the n_iter Lloyd passes touch n/sample_mod rows while k —
    the knob that pins E[cell] at target_cell_rows — still tracks the
    real corpus size; training cost drops by sample_mod while the
    serving assignment stays the same single pass.

    The sample is membership-by-hash (md5-hash64('kms:' || vec_id) mod
    sample_mod == 0), not a rate: reproducible across engines, executors
    and re-runs, so the FIT ITSELF remains oracle-replayable — the same
    discipline as corpus_sample. Returns the (cid, cent, n) centroid
    table, where n counts SAMPLE members (the fit's own assignment);
    persist it with write.parquet and hand it to kmeans_assign.

    `counts=(n, n_sample)` lets a caller that already aggregated the
    corpus (full count and kms_sample_member count) hand both in, so
    auto-k and the sample-size guard cost no scan here at all —
    ivf_pq_topk's auto path shares ONE aggregate this way (r11 review).

    Reference parity: no trainer in the reference (its IVF analog uses
    precomputed labels); sampled Lloyd training per Jegou et al. 2011
    (IVFADC coarse quantizers are conventionally trained on a corpus
    subsample)."""
    return embeddings.sparkSession.createDataFrame(
        _kmeans_fit_sampled_rows(
            embeddings, sample_mod, k, n_iter, target_cell_rows, counts
        ),
        "cid bigint, cent array<bigint>, n bigint",
    )


def _kmeans_fit_sampled_rows(
    embeddings: DataFrame,
    sample_mod: int = 4,
    k: int | None = None,
    n_iter: int = 3,
    target_cell_rows: int = KM_TARGET_CELL_ROWS,
    counts: tuple[int, int] | None = None,
) -> list:
    """kmeans_fit_sampled's core, returning the driver-side (cid, cent,
    n) tuples — same rationale as :func:`_kmeans_fit_rows` (r12)."""
    member = kms_sample_member(sample_mod)  # raises on sample_mod < 1
    seed_rows = None
    q = _km_quantized_input(embeddings.where(member))
    if counts is not None:
        n, n_sample = int(counts[0]), int(counts[1])
        if k is None:
            k = kmeans_auto_k(n, target_cell_rows)
    elif k is None:
        # ONE aggregate serves both the auto-k full count and the
        # sample-size guard (not two separate scans — r10 review), and it
        # runs CONCURRENTLY with the KM_K_MAX-overfetched seed fetch over
        # the sample — the two jobs are independent, auto-k can never
        # exceed KM_K_MAX, and slicing the first k of the same (h, vec_id)
        # total order reproduces a limit(k) exactly (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_agg = pool.submit(
                lambda: embeddings.agg(
                    F.count("*").alias("n"),
                    F.sum(member.cast("long")).alias("ns"),
                ).first()
            )
            f_seeds = pool.submit(_km_seed_rows, q, KM_K_MAX)
            row, seed_rows = f_agg.result(), f_seeds.result()
        n, n_sample = int(row["n"]), int(row["ns"] or 0)
        k = kmeans_auto_k(n, target_cell_rows)
    else:
        # explicit k never needed the full count; count only the sample
        # members for the guard (one narrower aggregate, same single
        # scan the guard costs either way — r10 advice)
        n_sample = embeddings.where(member).count()
    if n_sample < k:
        # Lloyd on fewer rows than centroids silently returns < k cells,
        # quietly breaking the "k tracks the full corpus" contract — fail
        # loudly (same discipline as the sample_mod guard above); the cost
        # rides the aggregate the auto-k count already needed
        raise ValueError(
            f"kmeans_fit_sampled: sample holds {n_sample} rows < k={k} "
            f"(sample_mod={sample_mod} too coarse for this corpus); lower "
            "sample_mod or pass an explicit k <= the sample size"
        )
    if seed_rows is None:
        seed_rows = _km_seed_rows(q, k)
    return _km_lloyd_rows(q, seed_rows, k, n_iter)


def kmeans_assign(
    embeddings: DataFrame,
    centroids: DataFrame | list | None = None,
    carry: tuple[str, ...] = (),
    **fit_kwargs,
) -> DataFrame:
    """Assign every vector to its trained cell: the one-pass serving step
    (collected k-row centroid closure + exact numpy argmin per Arrow
    batch, no shuffle at all). `centroids` is the persisted (cid, cent)
    table from :func:`kmeans_fit`; None trains in-line (testdata path).
    Returns (vec_id, *carry, cid, d2).

    `carry` names embedding columns ridden THROUGH the assignment kernel
    unchanged (Arrow round-trips them bit-exactly), so a consumer that
    needs the original vector next to its trained label — near-dup,
    SemDeDup, IVF probing — gets both from the single pass instead of
    joining the assignment back against the collection. That join was
    2 corpus-scale exchanges (both sides hashed on vec_id) spent
    attaching a label the kernel already held (r11 optimization, the
    guide-§8 'attach without re-shuffling the payload' rule).

    `centroids` also accepts a pre-collected list of (cid, cent) rows
    (what the fit loop holds driver-side) — the inline-fit path and
    in-repo serving compositions hand the closure straight through,
    skipping a createDataFrame+collect round-trip per query (r12)."""
    if centroids is None:
        centroids = _kmeans_fit_rows(embeddings, **fit_kwargs)
    elif isinstance(centroids, DataFrame):
        centroids = centroids.select("cid", "cent")
    q = _km_parallelize(
        embeddings.select("vec_id", *carry, _km_quantize().alias("qv"))
    )
    return _km_assign(q, centroids).select(
        "vec_id", *carry, "cid", "d2"
    )


def _km_assign_pq_encode(
    emb_in: DataFrame, cent_rows: list, m: int, bits: int
) -> DataFrame:
    """Fused serving pass for the IVF x PQ composition: ONE corpus
    crossing computes both the trained-cell assignment (the _km_assign
    arithmetic: exact int64 squared L2, first-min argmin over
    cid-sorted centroids) and the PQ codes (the pq_encode arithmetic:
    per-subspace integer hyperplane signs) from the same quantized
    matrix — the two tiers share the round(v*1000) int64 contract, so
    quantization happens once and the corpus crosses the Python
    boundary once instead of twice (r11 optimization; at 100 TB this
    also removes one full-corpus scan + repartition).

    `emb_in` must carry the ALREADY-QUANTIZED vectors as `qv`
    (the _km_quantize output — r12, ADVICE r11): quantization happens in
    exactly ONE kernel, Spark's F.round (BigDecimal HALF_UP), the same
    rounding the trainer, the query routing, kmeans_assign and the SQL
    oracle use. The r11 form re-quantized inside this kernel with
    numpy sign(Y)*floor(abs(Y)+0.5), which disagrees with F.round on
    IEEE .5-edge doubles (the 0.49999999999999994 class), so a corpus
    vector could in principle land in a different cell than the trained
    quantizer would give. Emits pq_encode's long form with the cell id
    alongside: (vec_id, cid, block, code, qsub) — block-0 rows are the
    assignment table."""
    import numpy as np
    import pandas as pd

    rows = sorted(cent_rows, key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def run(batches):
        P = None
        sub = None
        w = 1 << np.arange(bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            if P is None:
                if Q.shape[1] % m != 0:
                    raise ValueError(
                        f"pq_encode: embedding dim {Q.shape[1]} is not "
                        f"divisible by m={m} subspaces — trailing dims "
                        "would be silently dropped from codes (ADVICE "
                        "r07); pick m | d or pad the vectors"
                    )
                sub = Q.shape[1] // m
                P = _pq_projection(m, sub, bits)
            # assignment: same exact integer arithmetic as _km_assign
            Xq = Q.astype(np.float64)
            d = (Xq * Xq).sum(axis=1)[:, None] - 2.0 * (Xq @ C.T) + c2[None, :]
            j = d.argmin(axis=1)
            n = len(pdf)
            codes = np.empty((n, m), dtype=np.int64)
            for b in range(m):
                S = Q[:, b * sub : (b + 1) * sub]
                codes[:, b] = ((S @ P[b]) >= 0) @ w
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "cid": np.repeat(cids[j], m),
                    "block": np.tile(np.arange(m, dtype=np.int64), n),
                    "code": codes.reshape(-1),
                    "qsub": list(Q.reshape(n * m, sub)),
                }
            )

    return emb_in.mapInPandas(
        run, "vec_id bigint, cid bigint, block bigint, code bigint, qsub array<bigint>"
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 16,
    bits: int = 6,
    nprobe: int = 2,
    rerank: int | str | None = "auto",
    centroids: DataFrame | None = None,
    sample_mod: int = 4,
    normed: DataFrame | None = None,
) -> DataFrame:
    """The COMPOSED 100 TB ANN serving tier — IVFADC proper (Jegou et al.
    2011, both halves together): trained coarse cells route each query to
    `nprobe` cells, the ADC lookup table scores ONLY those cells' members
    from their m PQ codes, and the per-query shortlist is re-scored with
    exact vectors. Each stage is the already-verified parent operator —
    :func:`kmeans_fit_sampled`/:func:`kmeans_assign` (the trained coarse
    quantizer), :func:`pq_encode`/:func:`_adc_table` (compressed scoring),
    :func:`_exact_rerank` (full-precision refine) — so the composition
    adds routing, not new arithmetic.

    Why compose: the PQ-only tier (pq_adc_topk) still touches every
    candidate's codes — O(n*m) lookups per query; the IVF-only tier
    (cosine_topk_ivf_trained form) reads full d-float vectors for every
    cell member. Composed, the scan is cell-pruned AND compressed:
    O(nprobe * E[cell] * m) code lookups per query plus R exact fetches —
    at 100 TB the collection is stored partitioned by cid (codes
    colocated), so the probe is a partition-pruned scan of code columns
    ~64x narrower than the vectors, and only the R-row shortlist ever
    reads floats. Broadcast bounds: centroids (k <= KM_K_MAX rows), the
    ADC table (Q x m x 2^bits), the candidate pair list (Q * nprobe *
    E[cell], pinned ~target_cell_rows by the auto-k contract until
    KM_K_MAX binds) — all driver-safe serving metadata.

    Coarse routing metric is the SAME exact int64 squared L2 the
    assignment uses (quantized query vs centroid, ties to smallest cid),
    computed as an interpreted zip_with fold — fine HERE because the
    routing table is Q x k tiny, while corpus-side assignment goes
    through _km_assign's numpy matmul. Codes are GLOBAL (one codebook,
    not per-cell residuals as in classical IVFADC): residual encoding
    would couple the codebook to the fit and break the module's
    cross-engine determinism contract; the exact rerank recovers the
    precision the global codebook gives up (recall measured by
    q_ivf_pq_recall_report).

    `centroids`: pass the persisted model table (kmeans_fit_sampled
    output) — the fit-once/serve-many production shape; None refits
    inline (sample_mod hash-membership sample), the self-contained
    oracle form. Determinism: every stage is the parents' exact
    arithmetic, so the DuckDB oracle replays fit + routing + codes +
    ADC + rerank end-to-end.

    Returns (query_id, rank, neighbor_id, cosine) — or the ADC-score
    shortlist when rerank is None — the top-k contract shared with every
    ANN tier, ready for recall_at_k.

    Reference parity: the reference has no ANN surface; this is the
    north-star serving composition its dim-lookup tier (DimUtil.java:13-45
    — hot-path lookup against a persisted store) plays for warehouse rows,
    applied to embedding search.
    """
    cent_rows = None
    if centroids is None:
        if rerank == "auto":
            # inline fit + auto rerank each need a corpus count; fold
            # both into ONE aggregate (the kmeans_fit_sampled r10
            # discipline, applied across the composition — r11 review)
            row = embeddings.agg(
                F.count("*").alias("n"),
                F.sum(kms_sample_member(sample_mod).cast("long")).alias("ns"),
            ).first()
            n = int(row["n"])
            rerank = pq_auto_rerank(n)
            cent_rows = _kmeans_fit_sampled_rows(
                embeddings,
                sample_mod=sample_mod,
                counts=(n, int(row["ns"] or 0)),
            )
        else:
            cent_rows = _kmeans_fit_sampled_rows(embeddings, sample_mod=sample_mod)
        # the fit already holds the k-row model driver-side: route queries
        # through a local relation and hand the SAME rows to the fused
        # corpus kernel — no createDataFrame+collect round-trip (r12)
        cent = embeddings.sparkSession.createDataFrame(
            [(c, list(v)) for c, v, _ in cent_rows],
            "cid bigint, cent array<bigint>",
        )
    else:
        cent = centroids.select("cid", "cent")

    # --- coarse routing: nprobe nearest trained cells per query ---------
    qz = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), _km_quantize().alias("qq")
    )
    qd2 = F.aggregate(
        F.zip_with("qq", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("qd2"), F.asc("cid"))
    probes = (
        qz.crossJoin(F.broadcast(cent))
        .withColumn("qd2", qd2)
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "cid")
    )

    # --- fused corpus pass: assignment + PQ codes in ONE crossing -------
    # (the r10 form ran kmeans_assign and pq_encode as two separate
    # full-corpus mapInPandas passes over the same quantized vectors)
    fused = _km_assign_pq_encode(
        # quantize in SQL (F.round) BEFORE the kernel so routing, training
        # and the corpus pass share one rounding implementation (r12,
        # ADVICE r11 — see _km_assign_pq_encode)
        _km_parallelize(embeddings.select("vec_id", _km_quantize().alias("qv"))),
        cent_rows if cent_rows is not None else cent.collect(),
        m,
        bits,
    ).persist()
    # codebook + queries + candidates read it. persist(), not a lazy
    # localCheckpoint: the checkpoint's tasks ran in the consumer's job and
    # reported to the SQL-metric accumulators of a plan the driver had
    # already dropped ("attempted to access non-existent accumulator"),
    # as in dedup's shingle reuse
    asg = fused.filter(F.col("block") == 0).select("vec_id", "cid")
    cand_pairs = (
        asg.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # --- ADC shortlist over the candidates only -------------------------
    if isinstance(rerank, str):
        if rerank != "auto":
            raise ValueError(
                f"ivf_pq_topk: rerank={rerank!r} — the only string mode "
                "is 'auto' (corpus-sized R via pq_auto_rerank); pass an "
                "int for an explicit shortlist"
            )
        rerank = pq_auto_rerank(embeddings.count())
    shortlist_k = rerank if rerank is not None else k
    enc = fused.select("vec_id", "block", "code", "qsub")
    adc = _adc_table(enc, query_ids)
    cand_codes = enc.select(
        F.col("vec_id").alias("neighbor_id"), "block", "code"
    ).join(F.broadcast(cand_pairs), "neighbor_id")
    scored = cand_codes.join(F.broadcast(adc), ["query_id", "block", "code"])
    shortlist = _adc_shortlist(scored, m, shortlist_k)
    if rerank is None:
        return shortlist
    return _exact_rerank(embeddings, shortlist, query_ids, k, normed=normed)


# ---------------------------------------------------------------------------
# distributed second moments (Gram / covariance) + whitening
# ---------------------------------------------------------------------------
def embedding_gram(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact distributed second moments of the (quantized) collection —
    the d x d Gram accumulation every classical preprocessing step
    (covariance, PCA, whitening, OOD scoring) starts from, as one
    mapInPandas partial per Arrow batch + one d^2-row reduce.

    Arithmetic contract: vectors quantized round(v*1000) -> int64 (the
    module-wide contract), per-batch partials computed as float64 numpy
    matmuls whose every intermediate is an integer (products bounded by
    KM_SCALE^2 |v|max^2, batch sums by arrow-batch rows x that — far
    under 2^53), then summed EXACTLY as Spark bigints across batches. At
    extreme n the bigint sums are the honest overflow gate: 2^63 /
    (10^6 scale^2) ~ 9e12 rows before sxy can wrap — beyond it, switch
    the final reduce to decimal (documented valve, same discipline as
    money_sum).

    Returns the upper triangle incl. diagonal: (i, j, sxy, sx, sy, n,
    cov) where sxy = sum(q_i q_j), sx = sum(q_i) — all exact integers —
    and cov = (sxy - sx*sy/n)/n in the ORIGINAL float units (divided by
    KM_SCALE^2), rounded to 6. Rows out = d(d+1)/2, independent of n.
    """
    import numpy as np
    import pandas as pd

    q = _km_parallelize(embeddings.select(_km_quantize(vec_col).alias("qv")))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["qv"].tolist(), dtype=np.float64)
            G = X.T @ X  # exact: integer-valued entries < 2^53
            s = X.sum(axis=0)
            d = X.shape[1]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int64),
                    "j": ju.astype(np.int64),
                    "sxy": G[iu, ju].astype(np.int64),
                    "sx": s[iu].astype(np.int64),
                    "sy": s[ju].astype(np.int64),
                    "n": np.full(len(iu), len(pdf), dtype=np.int64),
                }
            )

    acc = (
        q.mapInPandas(
            partials, "i bigint, j bigint, sxy bigint, sx bigint, sy bigint, n bigint"
        )
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("n").alias("n"),
        )
    )
    nn = F.col("n").cast("double")
    cov = (
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nn)
        / nn
        / F.lit(float(KM_SCALE * KM_SCALE))
    )
    # `+ 0.0` normalizes the sign of zero: IEEE -0.0 + 0.0 = +0.0, so a
    # covariance that rounds to zero from below hashes identically across
    # engines (DuckDB's round() preserves -0.0; Spark's does not).
    return acc.select(
        "i", "j", "sxy", "sx", "sy", "n",
        (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
    )


def whitening_transform(embeddings: DataFrame, eps: float = 1e-6):
    """ZCA whitening matrix W = C^(-1/2) from the exact distributed
    covariance: the d x d problem collapses to the driver (d=64 here —
    4 KB), where one eigh gives W; the COLLECTION never moves. Returns
    (W, mean) as numpy arrays, in original float units.

    The eigendecomposition is driver-side LAPACK — deterministic on a
    given machine but not bit-portable, so whitening is a LIBRARY tier
    (unit-tested: whitened covariance == I within fp tolerance), not an
    oracle-checked driver query; the exact-integer covariance it
    consumes IS oracle-checked (embedding_covariance)."""
    import numpy as np

    rows = embedding_gram(embeddings).collect()
    d = max(r.j for r in rows) + 1
    C = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        c = (r.sxy - r.sx * r.sy / r.n) / r.n / (KM_SCALE * KM_SCALE)
        C[r.i, r.j] = C[r.j, r.i] = c
        if r.i == r.j:
            mean[r.i] = r.sx / r.n / KM_SCALE
    vals, vecs = np.linalg.eigh(C)
    W = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, eps))) @ vecs.T
    return W, mean


def whiten_embeddings(
    embeddings: DataFrame, W=None, mean=None, vec_col: str = "embedding"
) -> DataFrame:
    """Apply the whitening rotation: one numpy matmul per Arrow batch,
    no shuffle — (x - mean) @ W^T as array<double>. Train-once/apply-
    forever like the quantizer: pass a persisted (W, mean) in
    production; None fits in-line (testdata path)."""
    import numpy as np
    import pandas as pd

    if (W is None) != (mean is None):
        raise ValueError(
            "whiten_embeddings: pass BOTH W and mean (a persisted fit) "
            "or NEITHER (fit in-line); got exactly one of the pair"
        )
    if W is None:
        W, mean = whitening_transform(embeddings)
    Wb, mb = W.copy(), mean.copy()
    other = [c for c in embeddings.columns if c != vec_col]

    def apply(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Y = (X - mb[None, :]) @ Wb.T
            out = pdf[other].copy()
            out[vec_col] = list(Y)
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in embeddings.schema.fields
        if f.name != vec_col
    ) + f", {vec_col} array<double>"
    return embeddings.mapInPandas(apply, schema)


# ---------------------------------------------------------------------------
# hybrid retrieval: lexical candidate generation + vector rerank, RRF-fused
# ---------------------------------------------------------------------------
def hybrid_rrf_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec_id: int = 0,
    r: int = 50,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid search — the retrieval shape every RAG/serving stack runs:
    a LEXICAL candidate stage (tf-idf over the query terms) prunes the
    corpus to r docs, a VECTOR stage reranks those candidates by cosine
    against the query embedding, and the two rankings fuse by Reciprocal
    Rank Fusion (Cormack et al. 2009): rrf = 1/(rrf_k + lex_rank) +
    1/(rrf_k + vec_rank). RRF works on RANKS, not scores, so the two
    modalities need no scale calibration, and the fusion arithmetic is a
    sum of two exact rationals — deterministic across engines with the
    usual round-6 contract.

    Numeric discipline: tf is an exact count; idf = round(ln(N/df), 6)
    cast DECIMAL(18,6) (the text_dsir ln-round-6 convention) so the
    per-doc lexical score is an EXACT decimal sum; ranks are row_number
    with doc_id tie-breaks; cosine is the module's round-6 double.

    Scale posture: the token explode filters to the |terms| query words
    map-side (everything else dies before the shuffle), the per-doc
    groupBy is one partial-agg shuffle, candidate generation is
    orderBy+limit (TakeOrdered — per-partition top-r, no global sort),
    and both rerank joins touch r rows. At 100 TB the lexical stage
    reads a posting-list index (the dedup tier's inverted-index layout)
    instead of re-tokenizing — the plan from the candidates down is
    unchanged. Joins documents to embeddings on doc_id = vec_id (the
    testdata's aligned key space).
    """
    t = F.col("t")
    toks = documents.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("t")
    ).filter(t.isin(terms))
    n_docs = documents.count()
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    idf = (
        toks.groupBy("t")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "t",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
            .cast("decimal(18,6)")
            .alias("idf"),
        )
    )
    lex = (
        tf.join(F.broadcast(idf), "t")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("lex_score"))
    )
    cands = lex.orderBy(F.desc("lex_score"), F.asc("doc_id")).limit(r)
    w_lex = Window.orderBy(F.desc("lex_score"), F.asc("doc_id"))
    cands = cands.withColumn("lex_rank", F.row_number().over(w_lex))
    qrow = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    e = with_norm(embeddings)
    scored = (
        cands.join(e, cands.doc_id == e.vec_id)
        .crossJoin(F.broadcast(with_norm(qrow, "q_emb").select(
            F.col("emb").alias("qe"), F.col("norm").alias("q_norm"))))
        .withColumn("cosine", F.round(cosine_expr("qe", "emb", "q_norm", "norm"), 6))
    )
    w_vec = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    fused = scored.withColumn("vec_rank", F.row_number().over(w_vec)).select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        "cosine",
        F.round(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank"))
            + F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")),
            6,
        ).alias("rrf"),
    )
    w_out = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_out).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "lex_rank", "vec_rank", "cosine", "rrf")
    )
