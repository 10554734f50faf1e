"""Product quantization — the compressed-domain ANN path.

IVF (operators/similarity.py, operators/iterative.py) prunes WHICH vectors
a query scans; PQ compresses HOW each candidate is scored. The corpus keeps
only M one-byte codes per vector (64 float32 dims = 256 B → M = 8 B, 32×),
and query-time distance is additive over per-subspace lookup tables — no
float vectors are ever read at serve time. This is the standard IVF-PQ
composition (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) that makes billion-vector ANN fit in memory; at 100 TB
of embeddings the PQ code table is ~3 TB and the scan is table lookups.

Distributed layout (everything Catalyst-visible, no Python in the plan):

- **train** — the corpus explodes long-form to (vec_id, m, subvector); each
  Lloyd round assigns every row to its nearest code in subspace m via an
  argmin over BROADCAST codebook literals (narrow map), then ONE
  groupBy(m, code) with map-side combine re-estimates all M codebooks
  jointly — per-round data motion is one partial-agg shuffle regardless of
  M, and driver state is M×K×D_SUB doubles (tiny).
- **encode** — the same argmin expression, map-only: M byte codes per row.
- **serve (ADC)** — per query, the M×K lookup table is computed driver-side
  from the collected query vectors (bounded: N_QUERIES × DIM doubles) and
  inlined as literal arrays; each candidate's distance is M element_at
  picks + adds inside whole-stage codegen. Ranking reuses the standard
  per-query top-k window.

Like the other trained paths, the data-dependent fixpoint is not
SQL-expressible, so the op emits the measured-quality contract the oracle
asserts exactly (cf. sim_ann_ivf_trained, iterative.py:183): recall@k of
PQ-ADC ranking against exact brute-force cosine on the same corpus, plus
the compression invariants. Raw neighbor lists stay available via
`pq_serve` and are exercised by tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.det import cents
from ..registry import op
from ..sources.batch import load_table as lt
from .similarity import N_QUERIES, TOP_K, recall_tuned

DIM = 64
M_SUB = 8                  # subspaces
D_SUB = DIM // M_SUB       # dims per subspace
K_PQ = 16                  # codes per subspace (1 byte would hold 256)
N_PQ_ITER = 2              # Lloyd rounds per subspace (joint)
SHORTLIST = 40             # ADC candidates kept per query for exact re-rank
RECALL_GATE = 0.50         # asserted by the oracle; measured value in test

# Config grid-searched against brute-force ground truth on the synthetic
# near-random embeddings (true top-5 cosine ≈ 0.33 — deliberately hard).
# Final recall@5 after exact re-rank == ADC shortlist recall; measured at
# sf0.001 / sf0.01:
#   M=8  K=16 it=2, shortlist 20:  0.65 / 0.53
#   M=8  K=64 it=3, shortlist 20:  0.68 / 0.70  (512-centroid literal table
#                                  quadruples Catalyst codegen time — 105 s
#                                  for the whole contract op)
#   M=8  K=16 it=2, shortlist 40:  0.73 / 0.78  ← chosen start: best recall
#                                  AND the cheapest plan; a deeper shortlist
#                                  is ~free (re-rank still reads only
#                                  shortlist × N_QUERIES float vectors)
# gated at RECALL_GATE. SHORTLIST is the starting point, not a fixed claim:
# sim_ann_pq doubles it on a gate miss (capped at the corpus, where exact
# re-rank IS brute force) so the gate holds for any data distribution.


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalized corpus: PQ-ADC squared-L2 ranking on unit vectors is
    exactly cosine ranking (||q-x||² = 2 - 2·cos when ||q||=||x||=1).
    Zero-norm vectors are excluded, same semantic as ``with_norm`` — the
    division here is the other ANSI DIVIDE_BY_ZERO the fuzz ``vecdup``
    profile crashed (a zero vector cannot be unit-normalized any more than
    it can be cosine-ranked)."""
    e = lt(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    return (
        e.withColumn("_nrm", nrm)
        .filter(F.col("_nrm") > 0.0)
        .select(
            "vec_id",
            F.transform("emb", lambda x: x / F.col("_nrm")).alias("emb"),
        )
    )


def _long_form(e: DataFrame) -> DataFrame:
    """(vec_id, m, sub): one row per subspace — narrow explode."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("emb", m * D_SUB + 1, D_SUB).alias("sub"),
            )
            for m in range(M_SUB)
        ]
    )
    return e.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", "s.m", "s.sub"
    )


def _assign_expr(codebooks: list[list[list[float]]]):
    """Nearest-code struct (dist, code) for the row's subspace ``m``:
    the per-subspace argmin tables are inlined literals, selected by m.
    The per-candidate score is the positionally-expanded
    ``||c||² − 2⟨sub, c⟩`` (= d² minus the row-constant ``||sub||²``, so
    the argmin and its ties are identical to true distance) — plain
    arithmetic, no higher-order functions: with M×K candidates the HOF
    form (zip_with + aggregate per candidate) made Catalyst analysis and
    codegen the dominant cost of the whole op (~7 s per action at M=8
    K=16; 105 s total at K=64). The whole literal table is emitted as ONE
    SQL string via ``F.expr`` — building it candidate-by-candidate through
    the Column API cost ~5 s of py4j round trips per iteration (measured);
    the single parse is ~0.1 s. Ties break to the lower code."""
    per_m = []
    for m in range(M_SUB):
        cands = ", ".join(
            "named_struct('cent', array({}), 'code', {})".format(
                ", ".join(f"{float(v)!r}D" for v in cent), k
            )
            for k, cent in enumerate(codebooks[m])
        )
        # The K candidate centroids are an all-literal array → Catalyst's
        # ConstantFolding collapses it to ONE Literal(ArrayData) before
        # codegen, and the distance math lives in zip_with/aggregate
        # (compact CodegenFallback islands). The r3 form expanded
        # ||c||²−2⟨sub,c⟩ positionally into an M×K×D_SUB '+' chain — a
        # single unsplittable expression whose generated method blew
        # janino's 64KB limit and dropped the whole stage to interpreted
        # mode (VERDICT r3 #4). True squared distance has the same argmin
        # and ties as the expanded form (offset by the row-constant
        # ||sub||²); ties still break to the lower code.
        per_m.append(
            f"array_min(transform(array({cands}), c -> named_struct("
            "'dist', aggregate(zip_with(sub, c.cent,"
            " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x),"
            " 'code', c.code)))"
        )
    branches = " ".join(
        f"WHEN {m} THEN {e}" for m, e in enumerate(per_m)
    )
    return F.expr(f"CASE m {branches} END")


def train_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[list[list[float]]]:
    """Joint Lloyd training of all M codebooks: init = subvectors of the
    first K_PQ vectors by vec_id; each round is one narrow assign map plus
    one groupBy(m, code) partial-agg shuffle."""
    lf = _long_form(_normed(spark, sf_dir)).cache()
    # init from the first K_PQ SURVIVING vectors (zero-norm vectors are
    # excluded by _normed, so `vec_id < K_PQ` is NOT a valid slot map: a
    # dead embedding among the first K_PQ ids left its codebook slot None
    # and the assign expression crashed — chaos:95 fuzz kill). Order by
    # vec_id for determinism, same shape as iterative.py's kmeans init.
    seed_ids = [
        r[0]
        for r in lf.select("vec_id").distinct().orderBy("vec_id")
        .limit(K_PQ).collect()
    ]
    slot = {v: i for i, v in enumerate(seed_ids)}
    codebooks: list[list[list[float]]] = [
        [None] * K_PQ for _ in range(M_SUB)  # type: ignore[list-item]
    ]
    for r in lf.filter(F.col("vec_id").isin(seed_ids)).collect():
        codebooks[r["m"]][slot[r["vec_id"]]] = list(r["sub"])
    # degenerate corpora with fewer than K_PQ nonzero vectors: cycle the
    # seeds so every slot is a real centroid (empty clusters keep it).
    # Fully-degenerate corpus (zero surviving vectors → seed_ids empty):
    # there is nothing to cycle, so fall back to zero centroids — encode/
    # serve then run over an empty long-form frame and return no rows,
    # matching the oracle's empty result (ADVICE r4 #1).
    for cb in codebooks:
        for i in range(K_PQ):
            if cb[i] is None:
                cb[i] = (
                    list(cb[i % len(seed_ids)])
                    if seed_ids
                    else [0.0] * D_SUB
                )

    for _ in range(N_PQ_ITER):
        best = _assign_expr(codebooks)
        stats = (
            lf.select("m", "sub", best.getField("code").alias("code"))
            .groupBy("m", "code")
            .agg(
                *[F.avg(F.col("sub")[d]).alias(f"c{d}") for d in range(D_SUB)]
            )
            .collect()
        )
        nxt = [[list(c) for c in cb] for cb in codebooks]  # empty keeps old
        for r in stats:
            nxt[r["m"]][r["code"]] = [r[f"c{d}"] for d in range(D_SUB)]
        codebooks = nxt
    lf.unpersist()
    return codebooks


def encode(e: DataFrame, codebooks) -> DataFrame:
    """(vec_id, codes array<int> of length M_SUB) — map-only."""
    best = _assign_expr(codebooks)
    return (
        _long_form(e)
        .select("vec_id", "m", best.getField("code").alias("code"))
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("m", "code"))
            ).alias("mc")
        )
        .select("vec_id", F.col("mc.code").alias("codes"))
    )


def pq_serve(
    spark: SparkSession,
    sf_dir: str,
    shortlist: int = SHORTLIST,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Two-stage PQ serving: (1) compressed-domain ADC scan ranks every
    candidate by table lookups over its M byte codes and keeps `shortlist`
    per query; (2) exact re-rank reads the float vectors of only the
    shortlisted rows (equi-join on vec_id — at 100 TB this fetches
    ~shortlist × N_QUERIES vectors, not the corpus) and returns cosine
    top-k. Returns (query_id, neighbor_id, cosine, rnk)."""
    e = _normed(spark, sf_dir)
    if codebooks is None:  # callers in a retry loop train ONCE and pass in
        codebooks = train_codebooks(spark, sf_dir)
    coded = encode(e, codebooks)
    queries = {
        r["vec_id"]: list(r["emb"])
        for r in e.filter(F.col("vec_id") < N_QUERIES).collect()
    }

    # The M×K per-query lookup tables as a BROADCAST dim table, not inline
    # literals: r3 inlined N_QUERIES × M × K double literals into one
    # projection, whose generated method overflowed janino's 64KB limit and
    # dropped the whole stage to interpreted mode (VERDICT r3 #4). As data,
    # the LUT is N_QUERIES*M*K rows (1,024 here; bounded by serving batch ×
    # M × K at any scale), the join is BroadcastHashJoin on (m, code), and
    # every expression stays inside whole-stage codegen. The per-candidate
    # sum re-assembles the M partial distances in subspace order
    # (array_sort by m) so float addition order is pinned — bit-identical
    # to the old left-to-right literal chain.
    lut_rows = [
        (qid, m, code, sum(
            (q[m * D_SUB + d] - c[d]) ** 2 for d in range(D_SUB)
        ))
        for qid, q in sorted(queries.items())
        for m in range(M_SUB)
        for code, c in enumerate(codebooks[m])
    ]
    lut = spark.createDataFrame(
        lut_rows, "query_id int, m int, code int, pdist double"
    )
    scored = (
        coded.select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("codes").alias("m", "code"),
        )
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("m", "pdist"))),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("pdist"),
            ).alias("adist")
        )
    )
    w_adc = W.partitionBy("query_id").orderBy(F.col("adist").asc(), "neighbor_id")
    shortlist = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("arnk", F.row_number().over(w_adc))
        .filter(F.col("arnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the shortlist only: fetch the ~SHORTLIST×N_QUERIES
    # float vectors via equi-join, exact cosine (unit vectors => plain dot;
    # the query vector is picked from an inlined literal table keyed BY
    # query_id). A MAP, not a positional array: zero-norm (dead) vectors
    # are excluded from the query set by _normed, so surviving ids are NOT
    # dense 0..n-1 — `element_at(array, query_id + 1)` probed past the end
    # the moment a dead embedding sat among the first N_QUERIES ids
    # (mayhem:133 fuzz kill, the re-rank sibling of chaos:95's codebook
    # init assumption).
    qtable_sql = "map({})".format(
        ", ".join(
            "{}, array({})".format(qid, ", ".join(f"{float(v)!r}D" for v in q))
            for qid, q in sorted(queries.items())
        )
    )
    cos = F.expr(
        f"aggregate(zip_with(element_at({qtable_sql}, query_id), emb,"
        " (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
    )
    w_exact = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        shortlist.join(e, shortlist["neighbor_id"] == e["vec_id"])
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= TOP_K)
    )


# n_queries counts the NONZERO-norm query vectors — zero embeddings are
# excluded from every cosine path (see _normed), so a corpus whose query
# range contains a dead vector serves fewer queries on both engines.
_PQ_ORACLE = f"""
SELECT CAST((SELECT COUNT(*) FROM embeddings
             WHERE vec_id < {N_QUERIES}
               AND list_dot_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) > 0) AS BIGINT)
         AS n_queries,
       {TOP_K} AS k,
       {M_SUB} AS code_bytes_per_vector,
       {DIM * 4 // M_SUB} AS compression_x,
       TRUE AS recall_ge_{int(RECALL_GATE * 100):03d}
"""


@op(
    "sim_ann_pq",
    tags=("northstar", "similarity", "vector", "iterative", "quality"),
    oracle=_PQ_ORACLE,
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality + compression contract of the PQ-ADC path: recall@k of
    compressed-domain ranking against exact brute-force cosine
    (sim_topk_bruteforce), with the storage invariants (M code bytes per
    vector, 32× over float32). The ADC shortlist is AUTO-TUNED to the
    recall SLO — start at SHORTLIST, double on a gate miss, capped at the
    corpus size where the exact re-rank reads every vector and recall is
    1.0 identically — so the gate holds by construction for ANY data
    distribution (the sim_ann_ivf_trained precedent; a FIXED shortlist is
    the husk:164 class of calibration luck). The oracle asserts the gate
    exactly; `pq_serve` exposes raw neighbor lists for the tests."""
    # Codebooks are shortlist-independent: train ONCE and reuse across gate
    # retries instead of re-running Lloyd per doubling (ADVICE r4 #3).
    codebooks = train_codebooks(spark, sf_dir)
    return recall_tuned(
        spark,
        sf_dir,
        lambda shortlist: pq_serve(
            spark, sf_dir, shortlist=shortlist, codebooks=codebooks
        ),
        SHORTLIST,
        _normed(spark, sf_dir).count(),  # full-corpus re-rank == exact search
        RECALL_GATE,
        F.lit(M_SUB).alias("code_bytes_per_vector"),
        F.lit(DIM * 4 // M_SUB).alias("compression_x"),
    )


_GRAM_SCALE = 10_000  # fixed-point quantum for exact cross-engine sums

_GRAM_ORACLE = f"""
WITH idx AS (SELECT UNNEST(generate_series(1, 64)) AS i),
q AS (
  SELECT vec_id, idx.i AS i,
         CAST(ROUND(CAST(embedding[idx.i] AS DOUBLE) * {_GRAM_SCALE}.0) AS BIGINT) AS qx
  FROM embeddings CROSS JOIN idx
)
SELECT a.i AS i, b.i AS j,
       CAST(SUM(a.qx * b.qx) AS BIGINT) AS sum_xy,
       COUNT(*) AS n_vecs
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


@op("embedding_gram_matrix", tags=("similarity", "agg", "udf"), oracle=_GRAM_ORACLE)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix of the embedding corpus (the XᵀX statistic PCA /
    whitening / ZCA training starts from), computed as Arrow-batched
    numpy partial aggregation: each mapInPandas batch quantizes its
    vectors to int64 fixed-point (scale 1e4, half-away-from-zero to match
    SQL ROUND) and emits ONE d×(d+1)/2-row partial Gram from a single
    int64 matmul — so the shuffle moves |batches|×2080 tiny rows, never
    n×d² exploded elements (the oracle's self-join shape, restated here
    as what the naive plan would be). Integer accumulation makes the
    result bit-exact and order-independent — the float-sum
    nondeterminism that plagues distributed covariance never arises.

    Scale: at 1e9 vectors the per-batch partials still sum in int64
    (|q|≤~2·10⁴ ⇒ products ≤4·10⁸; 1e9 of them ≈ 4·10¹⁷ < 2⁶³); beyond
    that the same pattern hierarchical-merges through a second keyed
    stage. d² cost lives inside numpy's matmul, not in Spark rows."""
    import numpy as np
    import pandas as pd

    emb = lt(spark, sf_dir, "embeddings").select("embedding")
    d = 64
    iu, ju = np.triu_indices(d)

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.copysign(
                np.floor(np.abs(X * _GRAM_SCALE) + 0.5), X
            ).astype(np.int64)
            G = Q.T @ Q
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype(np.int64),  # long: oracle emits BIGINT
                    "j": (ju + 1).astype(np.int64),
                    "sum_xy": G[iu, ju],
                    "n_vecs": np.int64(len(pdf)),
                }
            )

    partials = emb.mapInPandas(
        gram_partials, schema="i long, j long, sum_xy long, n_vecs long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("sum_xy").alias("sum_xy"), F.sum("n_vecs").alias("n_vecs")
    )


_DRIFT_SCALE = 10_000
_DRIFT_SPLIT = 250  # vec_id < split = reference cohort, rest = live cohort

_DRIFT_ORACLE = f"""
WITH idx AS (SELECT UNNEST(generate_series(1, 64)) AS i),
q AS (
  SELECT vec_id, idx.i AS dim,
         CAST(ROUND(CAST(embedding[idx.i] AS DOUBLE) * {_DRIFT_SCALE}.0) AS BIGINT) AS qx
  FROM embeddings CROSS JOIN idx
),
cohorts AS (
  SELECT dim,
         CAST(SUM(CASE WHEN vec_id < {_DRIFT_SPLIT} THEN qx ELSE 0 END) AS BIGINT) AS sum_ref,
         CAST(SUM(CASE WHEN vec_id < {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN vec_id >= {_DRIFT_SPLIT} THEN qx ELSE 0 END) AS BIGINT) AS sum_live,
         CAST(SUM(CASE WHEN vec_id >= {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_live
  FROM q GROUP BY dim
)
SELECT dim, sum_ref, n_ref, sum_live, n_live,
       CAST(CASE WHEN (sum_live * n_ref - sum_ref * n_live) >= 0
                 THEN (sum_live * n_ref - sum_ref * n_live) // (n_ref * n_live)
                 ELSE -((-(sum_live * n_ref - sum_ref * n_live))
                        // (n_ref * n_live))
            END AS BIGINT) AS mean_shift_fp_trunc
FROM cohorts
"""


@op("sim_embedding_drift", tags=("northstar", "similarity", "profiling"), oracle=_DRIFT_ORACLE)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT monitor: per dimension, the fixed-point coordinate
    sums and counts of a reference cohort vs the live cohort, plus the
    mean shift — the statistic a serving system watches to know when the
    corpus has drifted from what the ANN index / centroids / PQ
    codebooks were trained on (the retrain trigger for
    kmeans_train_centroids and sim_ann_ivf_trained; cf.
    sim_ann_quality_curve for the recall side of the same question).
    Sums are exact int64 fixed-point (scale 1e4, the Gram matrix's
    convention); the shift's cross-multiplied numerator stays integer so
    only ONE final division exists and it is the same IEEE op on both
    engines.

    Scale shape: one narrow explode to (vec, dim) then a single
    combine-friendly rollup to 64 rows carrying both cohorts via
    conditional aggregation — no join between cohorts, no second scan."""
    emb = lt(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        cents(F.col("x").cast("double"), 4).alias("qx"),  # _DRIFT_SCALE = 10**4
    )
    ref = F.col("vec_id") < _DRIFT_SPLIT
    cohorts = exploded.groupBy("dim").agg(
        F.sum(F.when(ref, F.col("qx")).otherwise(0)).alias("sum_ref"),
        F.sum(F.when(ref, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~ref, F.col("qx")).otherwise(0)).alias("sum_live"),
        F.sum(F.when(~ref, 1).otherwise(0)).alias("n_live"),
    )
    return cohorts.select(
        "dim",
        "sum_ref",
        "n_ref",
        "sum_live",
        "n_live",
        F.expr(
            "CASE WHEN (sum_live * n_ref - sum_ref * n_live) >= 0"
            " THEN (sum_live * n_ref - sum_ref * n_live) div (n_ref * n_live)"
            " ELSE -((-(sum_live * n_ref - sum_ref * n_live))"
            " div (n_ref * n_live)) END"
        ).alias("mean_shift_fp_trunc"),
    )
