"""Similarity search over embeddings (north-star: BASELINE.json).

Two paths:

- **brute-force top-k** — broadcast the (small) query set against all
  candidates, exact cosine, per-query ranking window. The correctness
  baseline, and the right plan whenever |queries| is small: one broadcast,
  no shuffle of the candidate side, TakeOrdered per query.
- **LSH-bucketed ANN** — N_TABLES hash tables of N_PLANES deterministic
  integer hyperplanes each → sign-bit bucket per (vector, table) → query
  joins only its buckets, union across tables, dedup. The 100 TB path: the
  bucket lookup is an equi-join on (table, bucket); recall amplified by the
  multi-table union and kept measured by `sim_ann_recall`. (Hyperplanes are
  integer-valued and inlined in the oracle SQL so DuckDB reproduces the
  bucketing bit-for-bit.)

- **IVF (inverted-file) ANN** — K deterministic coarse centroids; every
  vector is assigned to its nearest centroid (broadcast argmax join), a
  query probes its `NPROBE` nearest cells only. The serving plan is an
  equi-join on `cluster_id`, exactly like the LSH bucket join, but recall
  degrades gracefully with NPROBE instead of bucket granularity. (A k-means
  trainer would refine the centroids iteratively; the *serving-path*
  operator below is the part that matters at 100 TB and is fully
  oracle-checked with fixed centroids.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_cols, with_norm
from ..registry import op
from ..sources.batch import load_table as lt

N_QUERIES = 8   # vec_id < 8 are the query set
TOP_K = 5

_BRUTE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE nrm > 0
),
q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < {N_QUERIES}),
s AS (
  SELECT query_id, vec_id AS neighbor_id,
         (list_dot_product(qemb, emb) / (qnrm * nrm)) AS cosine
  FROM q, e WHERE vec_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM s
) WHERE rnk <= {TOP_K}
"""


@op("sim_topk_bruteforce", tags=("northstar", "similarity", "vector"), oracle=_BRUTE_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × candidates, ranking window
    per query (ties broken by neighbor_id)."""
    e = with_norm(
        lt(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_cols("qemb", "emb", "qnrm", "nrm").alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")  # long: match the oracle's BIGINT ROW_NUMBER
    ).filter(F.col("rnk") <= TOP_K)


def hits_per_query(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hits): how many of each query's exact top-k neighbors
    (``brute``: query_id, neighbor_id) the approximate lists recover —
    ground truth LEFT JOIN approximate hits, counted per query."""
    b = brute.alias("b")
    a = approx.select("query_id", "neighbor_id").alias("a")
    return (
        b.join(
            a,
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.query_id").alias("query_id"))
        .agg(F.count(F.col("a.neighbor_id")).alias("n_hits"))
    )


def recall_tuned(
    spark: SparkSession,
    sf_dir: str,
    serve: Callable[[int], DataFrame],
    start: int,
    cap: int,
    gate: float,
    *extra: Column,
) -> DataFrame:
    """Recall-gated auto-tuner of the trained ANN paths: serve with the
    parameter at ``start``, measure recall@k against the exact top-k
    (sim_topk_bruteforce), and double the parameter until recall meets
    ``gate`` or the parameter reaches ``cap``, where the path reads every
    candidate and equals exact search. The gate therefore holds by
    construction for any data distribution; a FIXED parameter is
    calibration luck (fuzz husk:164). Returns the one-row summary
    (n_queries, k, *extra, recall_ge_<gate in %>).

    The truth set is read only while tuning, so it is cached and
    unpersisted in ``finally``; the summary is read by the returned frame,
    so it is an eager localCheckpoint taken before any return — the
    caller's action reads that row instead of re-running brute + serve
    (the two rules in ``registry.op``'s docstring)."""
    flag = f"recall_ge_{int(gate * 100):03d}"
    brute = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    brute.cache()
    p = start
    try:
        while True:
            out = (
                hits_per_query(brute, serve(p))
                .agg(F.count("*").alias("n_queries"), F.sum("n_hits").alias("_hits"))
                .select(
                    "n_queries",
                    F.lit(TOP_K).alias("k"),
                    *extra,
                    # n_queries = 0 (every candidate query embedding
                    # zero-norm) makes _hits NULL; the SLO is vacuously met
                    # then — pin TRUE to match the oracle's literal TRUE
                    # (ADVICE r4 #2).
                    F.when(F.col("n_queries") == 0, F.lit(True))
                    .otherwise(
                        (F.col("_hits") / (F.col("n_queries") * F.lit(float(TOP_K))))
                        >= F.lit(gate)
                    )
                    .alias(flag),
                )
                .localCheckpoint(eager=True)
            )
            if p >= cap or out.collect()[0][flag]:
                return out
            p *= 2
    finally:
        brute.unpersist()


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — multi-table deterministic hyperplanes, reproducible in SQL
#
# Parameters were GRID-SEARCHED against brute-force ground truth on the
# synthetic embeddings (near-random vectors, true top-5 cosine ≈ 0.33 — a
# deliberately hard corpus). Measured recall@5 / scanned fraction:
#
#   1 table × 8 planes (old):  recall 0.00  (256 buckets over 500 vectors
#                              leaves every vector alone — no candidates)
#   4 tables × 4 planes:       recall 0.42  scan 0.20
#   4 tables × 3 planes:       recall 0.65  scan 0.34   ← chosen
#   8 tables × 3 planes:       recall 0.72  scan 0.49
#
# The multi-table union is the standard LSH recall amplifier: a true
# neighbor is a candidate if it collides in ANY table, so recall is
# 1-(1-p^P)^T instead of p^P. `sim_ann_recall` below keeps this measured.

N_TABLES = 4
N_PLANES = 3
DIM = 64


def _plane(t: int, j: int) -> list[int]:
    # pseudo-random-ish integer hyperplane for table t, plane j —
    # identical in Spark and the oracle
    return [((73 * (t * N_PLANES + j) + 37 * d + 11 * t) % 19) - 9 for d in range(DIM)]


def _sql_bucket(t: int) -> str:
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(emb, "
        f"[{', '.join(str(v) for v in _plane(t, j))}]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for j in range(N_PLANES)
    )
    return f"({bits})"


_SQL_BUCKETS = " UNION ALL ".join(
    f"SELECT vec_id, emb, nrm, {t} AS tbl, {_sql_bucket(t)} AS bucket FROM e"
    for t in range(N_TABLES)
)

_ANN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE nrm > 0
),
bucketed AS ({_SQL_BUCKETS}),
q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, tbl, bucket
      FROM bucketed WHERE vec_id < {N_QUERIES}),
s AS (
  SELECT DISTINCT query_id, b.vec_id AS neighbor_id,
         (list_dot_product(qemb, b.emb) / (qnrm * b.nrm)) AS cosine
  FROM q JOIN bucketed b USING (tbl, bucket)
  WHERE b.vec_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM s
) WHERE rnk <= {TOP_K}
"""


def _bucket_col(t: int) -> F.Column:
    # ONE F.expr per table instead of building the plane literals and fold
    # lambdas Column-by-Column: the Column form was ~200 py4j round-trips
    # per plane (64 lit() calls + HOF lambda plumbing), which made
    # driver-side plan construction the dominant cost of the whole ANN
    # query (~2 s measured at sf0.1). The SQL text parses JVM-side in one
    # call and resolves to the IDENTICAL expression tree: same sequential
    # fold (aggregate over zip_with), same double literals, same
    # sign-bit concat — bucket values are bit-for-bit unchanged.
    bits = ", ".join(
        "(CASE WHEN aggregate(zip_with(emb, "
        f"array({', '.join(f'{float(v)}D' for v in _plane(t, j))}), "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x) >= 0.0D "
        "THEN '1' ELSE '0' END)"
        for j in range(N_PLANES)
    )
    return F.expr(f"concat({bits})")


@op("sim_ann_lsh", tags=("northstar", "similarity", "vector"), oracle=_ANN_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: each of N_TABLES hash
    tables assigns a sign-bit bucket; a query scans the union of its buckets
    across tables (candidates deduped before ranking). The bucket lookup is
    an equi-join on (table, bucket) — at 100 TB, write the corpus N_TABLES
    ways partitioned by bucket (or one long-form table partitioned by
    (tbl, bucket)) and every query batch prunes to its partitions; recall
    is tuned by (N_TABLES, N_PLANES) against `sim_ann_recall`, not guessed."""
    e = with_norm(
        lt(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    # long-form (vec, table, bucket): one explode instead of N_TABLES scans
    bucketed = e.select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), _bucket_col(t).alias("bucket"))
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "emb", "nrm", "tb.tbl", "tb.bucket")
    # NOTE (r10): deriving q from `bucketed` (one shared subtree) beats
    # re-bucketing a pruned query-side scan — the bucket expression trees
    # dominate driver-side construction/analysis, so building them once is
    # worth the extra (8-row) pass through the corpus repartition (measured:
    # the two-scan variant was ~0.7 s slower per run at sf0.1).
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        "tbl",
        "bucket",
    )
    # cosine is a pure function of the pair, so DISTINCT over
    # (pair, cosine) dedups cross-table collisions exactly. ONE exchange
    # serves both the distinct and the ranking window (r10, guide §2.4):
    # hash(query_id) clusters every duplicate row together — query_id is a
    # subset of the dedup keys, so the explicit repartition satisfies the
    # aggregate's clustered-distribution requirement AND the window's
    # partitioning; a bare .distinct() planned a second exchange on
    # hash(query_id, neighbor_id, cosine) before the window's
    # hash(query_id). Measured 0.85 s → 0.59 s at sf0.1, rows identical.
    scored = (
        bucketed.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_cols("qemb", "emb", "qnrm", "nrm").alias("cosine"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "query_id")
        .dropDuplicates()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")  # long: match the oracle's BIGINT ROW_NUMBER
    ).filter(F.col("rnk") <= TOP_K)


# ---------------------------------------------------------------------------
# IVF ANN — deterministic coarse quantizer, fully oracle-checked
#
# (N_CENTROIDS, NPROBE) grid-searched against brute-force ground truth at
# sf0.01 (recall@5 / fraction of corpus scanned ≈ NPROBE/N_CENTROIDS):
#
#   16 × 2 (old):  recall 0.150  scan 0.12
#   16 × 4:        recall 0.325  scan 0.25
#   32 × 8:        recall 0.375  scan 0.25
#   64 × 8:        recall 0.400  scan 0.12   ← chosen: best recall AND the
#                                              finest partition pruning
#
# More centroids = finer cells = better pruning at the same scan budget;
# `sim_ann_recall` keeps the number measured as data/params drift.

N_CENTROIDS = 64
NPROBE = 8

def _ivf_sql(nprobe: int) -> str:
    """IVF serving SQL, parameterized by probe count (shared by the
    fixed-centroid op and the quality-curve sweep)."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE nrm > 0
),
c AS (
  SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm
  FROM e WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
assign AS (
  SELECT vec_id, emb, nrm, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY (list_dot_product(emb, cemb) / (nrm * cnrm)) DESC, cid
         ) AS r
  FROM e CROSS JOIN c
),
members AS (SELECT vec_id, emb, nrm, cid FROM assign WHERE r = 1),
q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
      FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qemb, qnrm, cid,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY (list_dot_product(qemb, cemb) / (qnrm * cnrm)) DESC, cid
         ) AS r
  FROM q CROSS JOIN c
),
s AS (
  SELECT query_id, m.vec_id AS neighbor_id,
         (list_dot_product(qemb, m.emb) / (qnrm * m.nrm)) AS cosine
  FROM (SELECT * FROM probes WHERE r <= {nprobe}) p
  JOIN members m USING (cid)
  WHERE m.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM s
) WHERE rnk <= {TOP_K}
"""


_IVF_ORACLE = _ivf_sql(NPROBE)


def normed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, emb array<double>, nrm)."""
    return with_norm(
        lt(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )


def ivf_members(e: DataFrame, c: DataFrame) -> DataFrame:
    """Corpus→nearest-centroid assignment (broadcast argmax, one narrow
    pass) — the nprobe-independent half of the IVF index."""
    w_assign = W.partitionBy("vec_id").orderBy(
        cosine_cols("emb", "cemb", "nrm", "cnrm").desc(), F.col("cid")
    )
    return (
        e.crossJoin(F.broadcast(c))
        .withColumn("r", F.row_number().over(w_assign))
        .filter(F.col("r") == 1)
        .select("vec_id", "emb", "nrm", "cid")
    )


def ivf_serve(
    e: DataFrame, c: DataFrame, *, nprobe: int | None = None,
    with_candidates: bool = False, members: DataFrame | None = None,
):
    """The IVF serving join, parameterized by the centroid table ``c``
    (cid, cemb, cnrm): assign corpus→nearest centroid (broadcast argmax,
    one narrow pass), probe ``nprobe`` cells per query, exact cosine within
    the probed cells. Shared by `sim_ann_ivf` (fixed deterministic
    centroids, oracle-checked) and `sim_ann_ivf_trained`
    (operators/iterative.py k-means centroids). ``members`` lets a caller
    that sweeps nprobe settings pass the (nprobe-independent) assignment
    once instead of re-deriving it per setting — mirrors
    ivf_trained_serve's precomputed-centroids parameter."""
    nprobe = NPROBE if nprobe is None else nprobe
    c = F.broadcast(c)
    if members is None:
        members = ivf_members(e, c)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    w_probe = W.partitionBy("query_id").orderBy(
        cosine_cols("qemb", "cemb", "qnrm", "cnrm").desc(), F.col("cid")
    )
    probes = (
        q.crossJoin(c)
        .withColumn("r", F.row_number().over(w_probe))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qemb", "qnrm", "cid")
    )
    scored = (
        members.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_cols("qemb", "emb", "qnrm", "nrm").alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    ranked = scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")  # long: match the oracle's BIGINT
    ).filter(
        F.col("rnk") <= TOP_K
    )
    if with_candidates:
        return ranked, scored
    return ranked


@op("sim_ann_ivf", tags=("northstar", "similarity", "vector"), oracle=_IVF_ORACLE)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving path with fixed deterministic centroids (data vectors
    N_QUERIES..N_QUERIES+N_CENTROIDS — reproducible in the oracle SQL).
    At 100 TB: partition the corpus parquet by cluster_id at ingest — a
    query batch then reads only NPROBE/K of the data (partition pruning),
    and the probe join is an ordinary equi-join; centroids come from the
    k-means refresh job (`kmeans_train_centroids`), swapped atomically."""
    e = normed_corpus(spark, sf_dir)
    c = e.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    return ivf_serve(e, c)


# ---------------------------------------------------------------------------
# recall measurement — the ANN quality gate
#
# "A correct-but-low-recall ANN op is not done": this op quantifies, per
# query, how much of the exact top-k each approximate path recovers, so the
# bucket-granularity / NPROBE knobs above are tuned against a measured
# number instead of a guess. Both inputs are deterministic, so the recall
# itself is deterministic and fully oracle-checked (the oracle embeds the
# already-verified per-method queries as subqueries — textual reuse, no
# re-derivation).

_RECALL_ORACLE = f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({_BRUTE_ORACLE})),
lsh AS (SELECT query_id, neighbor_id FROM ({_ANN_ORACLE})),
ivf AS (SELECT query_id, neighbor_id FROM ({_IVF_ORACLE})),
per AS (
  SELECT 'lsh' AS method, b.query_id, COUNT(a.neighbor_id) AS n_hits
  FROM brute b LEFT JOIN lsh a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
  UNION ALL
  SELECT 'ivf' AS method, b.query_id, COUNT(a.neighbor_id) AS n_hits
  FROM brute b LEFT JOIN ivf a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
)
SELECT method, query_id, CAST(n_hits AS BIGINT) AS n_hits,
       n_hits / {float(TOP_K)} AS recall_at_k
FROM per
"""


@op("sim_ann_recall", tags=("northstar", "similarity", "vector", "quality"), oracle=_RECALL_ORACLE)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of each ANN path (LSH buckets, IVF probes) against the exact
    brute-force top-k, per query. ground truth LEFT JOIN approximate hits →
    count matches → divide by k.

    Scale note: at 100 TB you cannot brute-force the whole corpus for ground
    truth — you run THIS op on a uniform sample of queries (the brute side
    broadcasts the sampled query set, one pass over the corpus) and monitor
    recall as the corpus / centroids drift. The plan shape is exactly that:
    nothing here shuffles the corpus; only per-query top-k lists move."""
    brute = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")

    def per_method(method: str, approx: DataFrame) -> DataFrame:
        return hits_per_query(brute, approx).select(
            F.lit(method).alias("method"), "query_id", "n_hits"
        )

    per = per_method("lsh", sim_ann_lsh(spark, sf_dir)).unionByName(
        per_method("ivf", sim_ann_ivf(spark, sf_dir))
    )
    return per.select(
        "method",
        "query_id",
        "n_hits",
        (F.col("n_hits") / F.lit(float(TOP_K))).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the memory-scale path for ANN serving
#
# At 100 TB of float32 embeddings, the serving index is memory-bound long
# before it is compute-bound: symmetric per-vector int8 quantization cuts
# the corpus 4x (and the shuffle/broadcast bytes of every bucket join above
# with it) at a bounded reconstruction error of step/2 = maxabs/254 per
# element. The transform is narrow (map-only, no shuffle): at scale it is a
# one-pass rewrite of the corpus that every downstream bucket/probe join
# then reads. Pure deterministic arithmetic -> fully oracle-checked,
# including the error bound itself.

_QUANT_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
m AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS maxabs
  FROM e
),
q AS (
  SELECT vec_id, maxabs,
         CAST(len(v) AS INTEGER) AS n_dims,
         list_transform(v, x -> CAST(round(x / maxabs * 127) AS BIGINT)) AS qv,
         list_max(list_transform(
           v, x -> abs(x - round(x / maxabs * 127) * maxabs / 127))) AS max_abs_err
  FROM m WHERE maxabs > 0
)
SELECT vec_id, n_dims, maxabs,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       max_abs_err,
       (max_abs_err <= maxabs / 254 + 1e-12) AS within_half_step
FROM q
"""


@op("embedding_quantize_int8", tags=("northstar", "similarity", "vector", "scale"), oracle=_QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(v_i/maxabs*127),
    reconstruction q_i*maxabs/127. Emits integer-exact digests of the
    quantized vector (sum, L1) plus the measured max reconstruction error
    and its half-step bound check — every column reproduced bit-for-bit by
    the oracle, so the hash match proves the quantizer's error contract.

    Every per-element expression is order-free (elementwise + max/integer
    sums), so the check is safe under any partitioning."""
    from ..functions.det import fround

    v = F.col("v")
    maxabs = F.col("maxabs")
    # floor-form round (det.fround): identical values to F.round for
    # |y| <= 127 (proof at det.cents), minus the per-row-per-element
    # BigDecimal — this op evaluates the round 128× per vector
    qexpr = lambda x: fround(x / maxabs * 127)  # noqa: E731
    e = (
        lt(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("maxabs", F.array_max(F.transform(v, lambda x: F.abs(x))))
        .filter(maxabs > 0)
    )
    qv = F.transform(v, lambda x: qexpr(x).cast("long"))
    err = F.array_max(
        F.transform(v, lambda x: F.abs(x - qexpr(x) * maxabs / 127))
    )
    lsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        "maxabs",
        lsum(qv).alias("q_sum"),
        lsum(F.transform(qv, lambda x: F.abs(x))).alias("q_l1"),
        err.alias("max_abs_err"),
        (err <= maxabs / 254 + 1e-12).alias("within_half_step"),
    )


# ---------------------------------------------------------------------------
# embedding near-dup for UNLABELED corpora — LSH blocking instead of labels
#
# `dedup_embedding_cosine` (operators/dedup.py) blocks candidate pairs by a
# metadata label; real training corpora rarely have one. This op swaps the
# label for the multi-table hyperplane buckets above: a pair is a candidate
# iff it collides in ANY table, then exact cosine filters. Same plan shape
# as sim_ann_lsh — self-equi-join on (tbl, bucket) — so at 100 TB it is the
# same partition-pruned shuffle join, with NO O(n^2) pair space and no
# label prerequisite.

DEDUP_COS_TAU = 0.30

_EMB_LSH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE nrm > 0
),
bucketed AS ({_SQL_BUCKETS})
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       (list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)) AS cosine
FROM bucketed a JOIN bucketed b
  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE (list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)) >= {DEDUP_COS_TAU}
"""


@op("dedup_embedding_lsh", tags=("northstar", "dedup", "similarity", "vector"), oracle=_EMB_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs WITHOUT labels: multi-table LSH bucket
    collision proposes candidates, exact cosine >= tau confirms. Candidate
    generation is the (tbl, bucket) self-equi-join; cross-table duplicate
    collisions collapse under one DISTINCT (cosine is a pure function of
    the pair, so distinct over the triple dedups pairs exactly)."""
    e = with_norm(
        lt(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    bucketed = e.select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), _bucket_col(t).alias("bucket"))
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "emb", "nrm", "tb.tbl", "tb.bucket")
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "tbl",
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "tbl",
        "bucket",
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine_cols("emb_a", "emb_b", "nrm_a", "nrm_b").alias("cosine"),
        )
        .filter(F.col("cosine") >= DEDUP_COS_TAU)
        .distinct()
    )


# ---------------------------------------------------------------------------
# quality-vs-cost curve — recall as a function of NPROBE

_CURVE_PROBES = (1, 2, 4, 8)


def _ivf_cte(nprobe: int) -> str:
    sql = _ivf_sql(nprobe)
    return sql[: sql.rindex("\nSELECT query_id, neighbor_id, cosine, rnk")]


def _curve_block_sql(p: int) -> str:
    return f"""
SELECT * FROM (
  {_ivf_cte(p)},
  bt AS (SELECT query_id, neighbor_id FROM ({_BRUTE_ORACLE}))
  SELECT CAST({p} AS BIGINT) AS nprobe,
         (SELECT COUNT(*) FROM s) AS n_candidates,
         (SELECT COUNT(*)
          FROM (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rnk
                  FROM s) WHERE rnk <= {TOP_K}) a
          JOIN bt b ON b.query_id = a.query_id
                   AND b.neighbor_id = a.neighbor_id) AS sum_hits
)"""


_CURVE_ORACLE = f"""
SELECT nprobe, n_candidates, sum_hits,
       CAST((sum_hits * 1000000) // {N_QUERIES * TOP_K} AS BIGINT) AS recall_ppm
FROM ({" UNION ALL ".join(_curve_block_sql(p) for p in _CURVE_PROBES)})
"""


@op("sim_ann_quality_curve", tags=("northstar", "similarity", "vector"), oracle=_CURVE_ORACLE)
def sim_ann_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF quality-vs-cost CURVE: recall@5 against brute-force ground
    truth AND candidates scanned, for nprobe ∈ {1,2,4,8} — the measured
    tradeoff an ANN operator is actually tuned on (sim_ann_recall gives
    one point; capacity planning needs the curve: candidates scanned is
    the serve-time cost that scales with corpus size, recall is what you
    buy with it). Both axes are exact integers (candidate counts, hit
    counts, recall in ppm by floor division), so the whole curve is
    value-checked — the oracle re-derives every probe setting from the
    same parameterized IVF SQL the fixed-probe op certifies.

    Scale shape: per probe setting, the corpus moves only through the
    probed-cell equi-join (members reused across settings by Spark's
    shuffle reuse where plans align); counting rides the joins. At 100 TB
    this op runs on a query SAMPLE (ground truth is brute-forced per
    query batch, one corpus pass) on a schedule, and the curve decides
    nprobe before a reindex — measured, not guessed."""
    e = normed_corpus(spark, sf_dir)
    c = e.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    # r10 session 3: the nprobe SWEEP re-derived the corpus→centroid
    # assignment and the brute-force ground truth once per setting — both
    # are setting-independent, so the 4-block union plan embedded (and
    # re-executed) each subtree 4×, and Catalyst re-analyzed the 4×-wide
    # tree. localCheckpoint materializes each once per invocation (a
    # within-query intermediate, recomputed fresh every run — not a
    # cross-run cache) and truncates the lineage the union re-analyzes.
    # What each gate reports (candidates scanned, hits) is unchanged.
    # Interleaved A/B at sf0.01: min3avg 4.66 → 2.94 s, rows identical.
    # SCALE CAVEAT (ADVICE r10 #3): checkpointing members pins the full
    # corpus assignment (vec_id, emb, nrm, cid) in executor block storage
    # for the op's lifetime, with no lineage to recompute it on executor
    # loss. That is the bench/query-SAMPLE shape — at 100 TB this op runs
    # on a sampled query batch (docstring below), and the hoisted
    # invariants should be persist(MEMORY_AND_DISK) or a reliable
    # checkpoint instead (DEPLOY.md §local-checkpoint).
    members = ivf_members(e, c).localCheckpoint(eager=True)
    brute = (
        sim_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    out = None
    for p in _CURVE_PROBES:
        ranked, scored = ivf_serve(e, c, nprobe=p, with_candidates=True, members=members)
        cand = scored.agg(F.count("*").alias("n_candidates"))
        hits = ranked.join(brute, ["query_id", "neighbor_id"]).agg(
            F.count("*").alias("sum_hits")
        )
        block = cand.crossJoin(hits).select(
            F.lit(p).cast("long").alias("nprobe"), "n_candidates", "sum_hits"
        )
        out = block if out is None else out.unionByName(block)
    return out.select(
        "nprobe",
        "n_candidates",
        "sum_hits",
        F.expr(f"(sum_hits * 1000000) div {N_QUERIES * TOP_K}").alias("recall_ppm"),
    )
