"""Scale-pattern operators: the join/agg shapes that decide whether a plan
survives 100 TB (SURVEY.md §2.6 + BASELINE north-star).

Every op is a *pattern demonstration with a correctness oracle*: the salted
join must return exactly what the naive join returns; grouping sets must
equal their UNION ALL expansion — so the scale machinery is provably
semantics-preserving, not just "probably fine".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.det import cents, dsum, sql_dsum
from ..registry import op
from ..sources.batch import load_table as lt

SALT_BUCKETS = 4  # enough to break one hot key across reducers; replication
# of the dim side scales linearly with this, so keep it minimal


@op(
    "join_skew_salted",
    tags=("relational", "scale", "join"),
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100.0) AS BIGINT)) / 100.0, 2)
         AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: the fact side's join key is salted into
    SALT_BUCKETS sub-keys; the dimension side is exploded across all salts.
    A key holding 30% of all rows then lands on 8 reducers instead of one.

    The oracle is the PLAIN join — salting must be invisible in results.
    (AQE's skewJoin does this adaptively; explicit salting is the portable
    form that also works for aggregations and pre-AQE engines.)

    The SHUFFLE_HASH hint (guide §3.1) keeps the join on the shuffle path —
    the only path where salting means anything: without it the planner
    broadcasts the ×SALT_BUCKETS-replicated dim (a serial ~600k-row
    broadcast build at bench scale, impossible at 100 TB where orders is a
    fact table), and with sort-merge both sides pay a sort salting cannot
    help. Shuffled-hash probes each salted partition's build table with no
    sort; measured 1.26 s → 0.62 s at sf0.1 (plan: BroadcastHashJoin →
    ShuffledHashJoin, both sides exchanged on (key, salt))."""
    li = lt(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        # deterministic salt from a stable row attribute, uniform across buckets
        (F.abs(F.hash("l_orderkey", "l_linenumber")) % SALT_BUCKETS).alias("salt"),
    )
    orders = lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    salted_orders = orders.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    joined = li.join(
        salted_orders.hint("shuffle_hash"),
        (li.l_orderkey == salted_orders.o_orderkey) & (li.salt == salted_orders.salt),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(dsum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@op(
    "agg_grouping_sets",
    tags=("relational", "agg"),
    oracle=f"""
SELECT n.n_name AS nation,
       r.r_name AS region,
       COUNT(*) AS n_customers,
       {sql_dsum("c.c_acctbal")} AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((n.n_name, r.r_name), (r.r_name), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((nation, region), (region), ()) — one shuffle computes
    all three granularities (Catalyst expands + partial-aggregates map-side;
    the hand-built alternative is three jobs and three scans)."""
    c = lt(spark, sf_dir, "customer")
    n = lt(spark, sf_dir, "nation")
    r = lt(spark, sf_dir, "region")
    src = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return spark.sql(
        """
        SELECT n_name AS nation, r_name AS region,
               COUNT(*) AS n_customers,
               -- floor-form cents (det.cents proof) — Spark-side text only;
               -- the oracle keeps ROUND for DuckDB
               SUM(CASE WHEN c_acctbal >= 0
                        THEN FLOOR(c_acctbal * 100.0 + 0.5D)
                        ELSE -FLOOR(0.5D - c_acctbal * 100.0) END)
                 / CAST(100.0 AS DOUBLE) AS total_acctbal
        FROM {src}
        GROUP BY GROUPING SETS ((n_name, r_name), (r_name), ())
        """,
        src=src,
    )


_NTILE_ORACLE = """
SELECT o_orderkey, o_totalprice,
       NTILE(10)       OVER w AS decile,
       PERCENT_RANK()  OVER w AS pct_rank,
       CUME_DIST()     OVER w AS cume
FROM orders
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
"""


def window_ntile_global_sort_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNREGISTERED small-input baseline: a global ORDER BY window is a
    single-partition sort — correct, and exactly what you must NOT run at
    scale. Kept as the reference implementation the distributed form is
    tested against (tests/test_operators.py); every registered ntile name
    runs the two-phase distributed plan."""
    w = W.orderBy("o_totalprice", "o_orderkey")
    return lt(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@op("window_ntile_percentile", tags=("relational", "window"), oracle=_NTILE_ORACLE)
def window_ntile_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ntile/percent_rank/cume_dist), ties broken by
    the unique key. The name users reach first now runs the SAME two-phase
    distributed plan as `window_ntile_distributed` — the global-sort form
    survives only as the unregistered test baseline above."""
    return _ntile_distributed(spark, sf_dir)


@op(
    "window_ntile_distributed",
    tags=("relational", "window", "scale"),
    oracle=_NTILE_ORACLE,
)
def window_ntile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe distribution-window plan: NO single-partition sort.
    Two-phase distributed rank: `range_prefix_sum` (below, shared with the
    token-budget and sequence-packing prefix sums) numbers the rows in sort
    order with row_number within each range partition plus the exclusive
    prefix of per-partition counts. ntile/percent_rank/cume_dist are then
    closed-form in the global rank r and total t (the ORDER BY key is
    unique, so every row is its own peer group):
      percent_rank = (r-1)/(t-1),  cume_dist = r/t,
      ntile(n): first t%n buckets get ceil(t/n) rows, the rest floor(t/n).
    At 100 TB each phase is embarrassingly parallel; the only global state
    is one count per partition."""
    return _ntile_distributed(spark, sf_dir)


def range_prefix_sum(
    spark: SparkSession, df: DataFrame, keys: tuple[str, ...], value: str | None = None
) -> tuple[DataFrame, Column, int]:
    """Global running total in ``keys`` order (a unique key) with NO
    single-partition window: range-partition on the keys — range buckets
    land on ascending partition ids, so partition order extends the global
    order — run the window within each partition only, then shift each
    partition by the exclusive prefix of the partition totals (one collect
    of one row per partition, broadcast back). At 100 TB each phase is
    embarrassingly parallel; the only global state is one total per
    partition.

    Returns ``(frame, cum, total)``: ``cum`` is the inclusive running sum of
    ``value`` over ``frame`` — the global row number when ``value`` is None
    — and ``total`` the grand total. The per-partition pass is read by the
    totals collect and by the returned frame, so it is an eager
    localCheckpoint (the second rule in ``registry.op``'s docstring)."""
    parts = df.repartitionByRange(
        spark.sparkContext.defaultParallelism, *keys
    ).withColumn("pid", F.spark_partition_id())
    w = W.partitionBy("pid").orderBy(*keys)
    if value is None:
        run, agg = F.row_number(), F.count("*")
    else:
        run, agg = F.sum(value), F.sum(value)
        w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = parts.withColumn("local_cum", run.over(w)).localCheckpoint(eager=True)
    totals = sorted(
        (r["pid"], r["total"])
        for r in local.groupBy("pid").agg(agg.alias("total")).collect()
    )
    offsets, acc = [], 0
    for pid, total in totals:
        offsets.append((pid, acc))
        acc += total
    off_df = spark.createDataFrame(offsets, "pid int, offset long")
    return (
        local.join(F.broadcast(off_df), "pid"),
        F.col("local_cum") + F.col("offset"),
        acc,
    )


def _ntile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = lt(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, r, t = range_prefix_sum(spark, orders, ("o_totalprice", "o_orderkey"))
    n = 10
    q, rem = t // n, t % n
    threshold = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    decile = (
        F.when(r <= threshold, F.floor((r - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((r - 1 - threshold) / max(q, 1)) + 1)
        .cast("long")
    )
    pct = (
        (r - 1) / F.lit(t - 1) if t > 1 else F.lit(0.0)
    )
    return (
        ranked.select(
            "o_orderkey",
            "o_totalprice",
            decile.alias("decile"),
            pct.alias("pct_rank"),
            (r / F.lit(t)).alias("cume"),
        )
    )


@op(
    "agg_percentiles_exact",
    tags=("relational", "agg"),
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5)  AS p50_qty,
       quantile_cont(l_quantity, 0.9)  AS p90_qty,
       quantile_cont(l_quantity, 0.99) AS p99_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark `percentile` == DuckDB
    `quantile_cont`: same linear interpolation). The exact form is the
    oracle-able baseline; at 100 TB swap in `approx_percentile` (t-digest,
    mergeable, one pass) — same call shape, bounded error."""
    return (
        lt(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
            F.expr("percentile(l_quantity, 0.99)").alias("p99_qty"),
        )
    )


def _buyer_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = lt(spark, sf_dir, "orders")
    h1 = orders.filter(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    h2 = orders.filter(F.col("o_orderdate") >= "1998-01-01").select("o_custkey")
    return h1, h2


@op(
    "set_intersect_all",
    tags=("relational", "setop"),
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderdate < DATE '1998-01-01'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1998-01-01'
""",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL (multiplicity = min of the two sides) —
    Spark `intersectAll` == SQL INTERSECT ALL."""
    h1, h2 = _buyer_sets(spark, sf_dir)
    return h1.intersectAll(h2)


@op(
    "set_except_all",
    tags=("relational", "setop"),
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderdate < DATE '1998-01-01'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1998-01-01'
""",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity = left minus right, floor 0)."""
    h1, h2 = _buyer_sets(spark, sf_dir)
    return h1.exceptAll(h2)


@op(
    "join_broadcast_dims",
    tags=("relational", "scale", "join"),
    oracle=f"""
SELECT r.r_name AS region,
       COUNT(DISTINCT s.s_suppkey) AS n_suppliers,
       {sql_dsum("s.s_acctbal")} AS total_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the dimension chain (region→nation): the fact
    scan streams through two map-side hash joins with ZERO shuffles before
    the final aggregation — at 100 TB the alternative (sort-merge on
    nationkey) shuffles the whole fact table twice. tests assert the
    physical plan contains BroadcastHashJoin and a single Exchange."""
    s = lt(spark, sf_dir, "supplier")
    n = F.broadcast(lt(spark, sf_dir, "nation"))
    r = F.broadcast(lt(spark, sf_dir, "region"))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            dsum("s_acctbal").alias("total_acctbal"),
        )
    )


_HLL_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_5pct
FROM events
GROUP BY event_type
UNION ALL
SELECT '__total__' AS event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_5pct
FROM events
"""


@op("agg_hll_sketch_users", tags=("relational", "scale", "agg", "sketch"), oracle=_HLL_ORACLE)
def agg_hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built into
    Spark): per-event-type user sketches, merged again into a grand total —
    the two-level pattern that makes 100 TB distinct counts a pair of small
    shuffles (sketch bytes, not keys) and lets pre-aggregated sketches roll
    up across days/partitions without rescanning.

    Sketch bytes are engine-specific, so the output carries the exact count
    plus an in-tolerance flag for each estimate (per-type AND merged-union);
    the oracle asserts exact counts and TRUE — the hash match proves both
    sketch estimates and the union-merge landed within 5%."""
    ev = lt(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    # both branches of the returned frame read the per-type sketches (one
    # row per event_type): an eager localCheckpoint (registry.op's second
    # rule)
    per_type = per_type.localCheckpoint(eager=True)
    within = lambda est, exact: F.abs(est - exact) <= 0.05 * exact  # noqa: E731
    total_exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    total = (
        per_type.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
        .crossJoin(total_exact)  # both sides are literally one row
        .select(
            F.lit("__total__").alias("event_type"),
            "exact_users",
            within(F.col("est"), F.col("exact_users")).alias("est_within_5pct"),
        )
    )
    by_type = per_type.select(
        "event_type",
        "exact_users",
        within(F.expr("hll_sketch_estimate(sk)"), F.col("exact_users")).alias(
            "est_within_5pct"
        ),
    )
    return by_type.unionByName(total)


_PCT_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5)  AS p50_exact,
       quantile_cont(l_quantity, 0.99) AS p99_exact,
       TRUE AS p50_rank_band_ok,
       TRUE AS p99_rank_band_ok
FROM lineitem
GROUP BY l_returnflag
"""


@op(
    "agg_percentiles_approx",
    tags=("relational", "scale", "agg", "sketch"),
    oracle=_PCT_ORACLE,
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable one-pass GK/KLL-style sketch) next to
    the exact percentile — the 100 TB form beside its ground truth.

    The sketch's guarantee is a RANK bound, not a value bound: the
    returned element's rank is within ε·n of the target position
    (ε = 1/accuracy = 1e-3 here). The checked flag encodes exactly that:
    approx must lie between the exact order statistics at ranks
    ⌊pos⌋−s .. ⌈pos⌉+s, pos = 1+q·(n−1), s = 1+⌊εn⌋ (the extra ±1 rank
    covers element-vs-interpolation). The r1–r3 flag used a 1%-of-VALUE
    band instead — wrong error model, killed by fuzz dust:101 where a
    2-row group's interpolated median sits 23% away from both elements
    while the sketch answer is rank-perfect. The rank band is tight at
    scale (±~0.1% rank at 10⁵ rows/group) and exact at n = 1. The oracle
    recomputes the exact quantiles and asserts TRUE, so a hash match
    proves the rank bound held — strictly stronger than rows-only.

    Scale shape: ONE shuffle on the group key serves both the sketch/exact
    aggregation and the rank window + bounds rollup (same partitioning);
    the final join is 3 rows ⋈ 3 rows."""
    li = lt(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("p50_approx"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50_exact"),
        F.expr("approx_percentile(l_quantity, 0.99, 1000)").alias("p99_approx"),
        F.expr("percentile(l_quantity, 0.99)").alias("p99_exact"),
    )
    # exact order statistics at the band edges: rank window + conditional
    # rollup (any tie order yields the same value at a given rank)
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number()
        .over(W.partitionBy("l_returnflag").orderBy("l_quantity"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("n"),
    )

    def band(q: float):
        pos = F.lit(1.0) + F.lit(q) * (F.col("n") - F.lit(1)).cast("double")
        s = F.lit(1) + F.floor(F.col("n") / F.lit(1000))
        lo = F.greatest(F.lit(1).cast("long"), F.floor(pos).cast("long") - s)
        hi = F.least(F.col("n"), F.ceil(pos).cast("long") + s)
        return lo, hi

    lo50, hi50 = band(0.5)
    lo99, hi99 = band(0.99)
    bounds = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == lo50, F.col("l_quantity"))).alias("v50_lo"),
        F.max(F.when(F.col("rn") == hi50, F.col("l_quantity"))).alias("v50_hi"),
        F.max(F.when(F.col("rn") == lo99, F.col("l_quantity"))).alias("v99_lo"),
        F.max(F.when(F.col("rn") == hi99, F.col("l_quantity"))).alias("v99_hi"),
    )
    # NULL l_returnflag is a real group from BOTH aggregations; a plain
    # equi-join on the key would drop it (nullstorm:141) — join null-safe
    return agg.alias("g").join(
        bounds.alias("b"),
        F.col("g.l_returnflag").eqNullSafe(F.col("b.l_returnflag")),
    ).select(
        F.col("g.l_returnflag").alias("l_returnflag"),
        "p50_exact",
        "p99_exact",
        (
            (F.col("v50_lo") <= F.col("p50_approx"))
            & (F.col("p50_approx") <= F.col("v50_hi"))
        ).alias("p50_rank_band_ok"),
        (
            (F.col("v99_lo") <= F.col("p99_approx"))
            & (F.col("p99_approx") <= F.col("v99_hi"))
        ).alias("p99_rank_band_ok"),
    )


# ---------------------------------------------------------------------------
# bucketed co-located join — the layout demo as a first-class, oracle-checked
# op over the driver tables (the test-only twin lives in tests/test_layout.py
# over the fixture's receipts/outcomes)

_BUCKETS = 8  # sized for sf0.01 locally; 512 at the 100 TB design point
# (plans/layout.py DEFAULT_N_BUCKETS)


@op(
    "join_bucketed_colocated",
    tags=("relational", "scale", "join", "layout"),
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       {sql_dsum("l.l_extendedprice")} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketed tables: both sides are
    written `bucketBy(orderkey)` once (the layout decision from
    plans/layout.py), after which EVERY orderkey join reads co-located
    buckets — no Exchange on either side of the sort-merge join. At 100 TB
    this is the difference between shuffling two multi-TB tables per query
    and a metadata-only bucket pairing paid once at write time.

    The oracle is the plain join — bucketing must be invisible in results.
    tests assert the physical plan has no `Exchange hashpartitioning` on the
    join sides."""
    import re
    import shutil

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/").split("/")[-1] or "d")
    db = "aispark_buckets"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    li_t, o_t = f"{db}.lineitem_bkt_{tag}", f"{db}.orders_bkt_{tag}"

    # the session catalog is in-memory but the warehouse dir persists across
    # sessions: drop BOTH the catalog entry and the on-disk location, else a
    # fresh session hits LOCATION_ALREADY_EXISTS on its first overwrite
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    for name in (li_t, o_t):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{db}.db/{name.split('.')[1]}", ignore_errors=True)

    li = lt(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for df, key, name in ((li, "l_orderkey", li_t), (orders, "o_orderkey", o_t)):
        # repartition to exactly n_buckets on the bucket key -> one file per
        # bucket, so the sorted-bucket property survives the write
        (
            df.repartition(_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    joined = spark.table(li_t).hint("merge").join(
        spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


_SKEW_ORACLE = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS n_rows
  FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM counts
),
ranked AS (
  SELECT c.l_suppkey, c.n_rows,
         ROW_NUMBER() OVER (ORDER BY c.n_rows DESC, c.l_suppkey) AS key_rank,
         CAST((c.n_rows * 1000000) // t.total_rows AS BIGINT) AS share_ppm,
         CAST((c.n_rows * 100 * t.n_keys) // t.total_rows AS BIGINT)
           AS skew_vs_mean_x100
  FROM counts c, tot t
)
SELECT key_rank, l_suppkey, n_rows, share_ppm, skew_vs_mean_x100
FROM ranked WHERE key_rank <= 10
"""


@op("stats_join_key_skew", tags=("relational", "scale", "diagnostic"), oracle=_SKEW_ORACLE)
def stats_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-key skew profile — the diagnostic you run BEFORE
    picking a join strategy (broadcast / salt / plain shuffle) for a 100 TB
    fact table: per-key row counts, each top key's parts-per-million share
    of the table, and its size relative to the mean key (x100, integer).

    Scale shape: ONE partial-agg shuffle keyed on the join key (map-side
    combine makes the shuffle |keys|-sized, not |rows|-sized), a one-row
    global total that broadcasts back over the counts, and a top-10 cut via
    orderBy+limit which Spark compiles to TakeOrderedAndProject — per-
    partition heaps merged on the driver, never a global sort. All derived
    ratios are integer arithmetic (ppm, x100) so the oracle matches bit-
    for-bit. The ROW_NUMBER window runs on the 10 surviving rows only.
    """
    li = lt(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").alias("total_rows"), F.count("*").alias("n_keys")
    )
    top = (
        counts.orderBy(F.col("n_rows").desc(), "l_suppkey")
        .limit(10)
        .join(F.broadcast(tot))
        .select(
            "l_suppkey",
            "n_rows",
            F.expr("n_rows * 1000000 div total_rows").alias("share_ppm"),
            F.expr("n_rows * 100 * n_keys div total_rows").alias("skew_vs_mean_x100"),
        )
    )
    w = W.orderBy(F.col("n_rows").desc(), "l_suppkey")  # 10 rows — trivial
    return top.withColumn(
        "key_rank", F.row_number().over(w).cast("long")  # long: oracle BIGINT
    ).select(
        "key_rank", "l_suppkey", "n_rows", "share_ppm", "skew_vs_mean_x100"
    )


_BLOOM_BITS = 1 << 14  # 16384 bits = 256 longs; FP ~0.25% at 800 dim keys
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3
_BLOOM_BRAND = "Brand#12"

_BLOOM_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = '{_BLOOM_BRAND}')
GROUP BY l_returnflag
"""


@op("join_bloom_prefilter", tags=("join", "scale"), oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join through a hand-rolled broadcast Bloom filter: the dim-side
    key set (one brand's parts) is compressed into a 16 KiB bitmap (3
    xxhash64 probes over 2^14 bits), shipped to every fact task as an array
    literal, and the fact table is prefiltered by bit tests BEFORE the exact
    semi-join — so only bloom survivors (true matches + ~0.25% false
    positives) enter the join. The final semi-join keeps the answer exact;
    the bloom only moves work off the shuffle.

    Scale rationale: this is the pattern for when the dim side is too big
    for a broadcast-HASH join but its Bloom summary still fits in a task —
    a 100M-key dim is a ~170 MB bloom at 1% FP vs many-GB hash table, and
    the fact side sheds 99%+ of its rows before shuffling. (Spark's own
    AQE runtime bloom does the same injection; this op states the mechanics
    explicitly and plan-asserts the prefilter.) The driver-side collect is
    bounded at 256 bitmap words regardless of data volume.
    """
    part = lt(spark, sf_dir, "part")
    li = lt(spark, sf_dir, "lineitem")
    dim_keys = part.where(F.col("p_brand") == _BLOOM_BRAND).select("p_partkey")

    # One SQL fragment family for both build and probe so the hash/bit
    # arithmetic can never diverge between the two sides.
    def positions(col: str) -> list[str]:
        return [
            f"pmod(xxhash64({col}, {i}), {_BLOOM_BITS})" for i in range(_BLOOM_K)
        ]

    exploded = dim_keys.select(
        F.explode(F.expr(f"array({', '.join(positions('p_partkey'))})")).alias("pos")
    )
    words = (
        exploded.groupBy(F.expr("CAST(pos / 64 AS INT)").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bits")
        )
        .collect()
    )
    bitmap = [0] * _BLOOM_WORDS
    for r in words:
        bitmap[r["w"]] = r["bits"]
    bm = F.lit(bitmap)  # 256-long array literal, broadcast with the task binary

    probe = " AND ".join(
        f"((shiftrightunsigned(element_at(bloom_bm, CAST({p} / 64 AS INT) + 1),"
        f" CAST({p} % 64 AS INT)) & CAST(1 AS BIGINT)) = 1)"
        for p in positions("l_partkey")
    )
    survivors = (
        li.withColumn("bloom_bm", bm).where(F.expr(probe)).drop("bloom_bm")
    )
    return (
        survivors.join(dim_keys, survivors.l_partkey == dim_keys.p_partkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(cents(F.col("l_extendedprice"))).alias(
                "revenue_cents"
            ),
        )
    )


_MODE_ORACLE = """
WITH counts AS (
  SELECT c_nationkey, o_orderpriority, COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_orderpriority
)
SELECT c_nationkey, o_orderpriority AS modal_priority, n AS n_orders
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                               ORDER BY n DESC,
                                        o_orderpriority NULLS LAST) AS r
  FROM counts
) WHERE r = 1
"""


@op("agg_mode_per_group", tags=("agg", "relational"), oracle=_MODE_ORACLE)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic tie-break:
    each nation's modal order priority among its customers' orders. Mode is
    count-then-argmax — the (group, value) count map-side combines to at
    most |groups x values| rows, and the argmax window runs on that tiny
    table, ordered (count DESC, value ASC) so ties cannot flip between
    engines or partitionings. No sketch needed: the value domain is small;
    for unbounded domains the same plan caps the count table at the heavy
    hitters (see stats_join_key_skew)."""
    orders = lt(spark, sf_dir, "orders")
    cust = lt(spark, sf_dir, "customer")
    counts = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    # NULL is a legitimate modal value (missing priority is a real group at
    # ingest scale), but on a COUNT TIE a real value must win over the
    # missing one — and the engines disagree on default NULL order (Spark
    # ASC = NULLS FIRST, DuckDB = NULLS LAST), so pin NULLS LAST explicitly
    # on both (nullstorm:141 kill).
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc_nulls_last()
    )
    return (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "c_nationkey",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


_FANOUT_ORACLE = """
WITH a AS (SELECT l_partkey AS k, COUNT(*) AS na FROM lineitem GROUP BY 1),
b AS (SELECT p_partkey AS k, COUNT(*) AS nb FROM part GROUP BY 1),
est AS (
  SELECT CAST(SUM(na * nb) AS BIGINT) AS estimated_rows,
         CAST(MAX(na * nb) AS BIGINT) AS max_key_fanout,
         COUNT(*) AS n_join_keys
  FROM a JOIN b USING (k)
)
SELECT estimated_rows, max_key_fanout, n_join_keys,
       (SELECT COUNT(*) FROM lineitem JOIN part ON l_partkey = p_partkey)
         AS actual_rows,
       estimated_rows = (SELECT COUNT(*) FROM lineitem JOIN part
                         ON l_partkey = p_partkey) AS estimate_exact
FROM est
"""


@op("stats_join_fanout_estimate", tags=("scale", "profiling", "join"), oracle=_FANOUT_ORACLE)
def stats_join_fanout_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join — the pre-flight a
    planner (or an on-call engineer) runs before an expensive fact-fact
    join: per-key counts on each side, joined on the key, give the exact
    output cardinality sum(na*nb) and the worst single-key fanout
    max(na*nb) from inputs of |keys| rows instead of |output| rows. The op
    then ALSO runs the real join once to exhibit that the estimate is
    exact (the flag the oracle hash-checks) — at 100 TB you'd obviously
    skip that second half; it exists here as the self-verification.

    The companion to stats_join_key_skew: skew tells you WHERE the hot
    keys are, fanout tells you the blast radius BEFORE you commit a
    cluster to the shuffle. Both count aggregates map-side combine;
    the estimate join is |keys|-sized."""
    li = lt(spark, sf_dir, "lineitem")
    part = lt(spark, sf_dir, "part")
    a = li.groupBy(F.col("l_partkey").alias("k")).agg(F.count("*").alias("na"))
    bb = part.groupBy(F.col("p_partkey").alias("k")).agg(F.count("*").alias("nb"))
    est = a.join(bb, "k").agg(
        F.sum(F.col("na") * F.col("nb")).alias("estimated_rows"),
        F.max(F.col("na") * F.col("nb")).alias("max_key_fanout"),
        F.count("*").alias("n_join_keys"),
    )
    actual = li.join(part, li.l_partkey == part.p_partkey).agg(
        F.count("*").alias("actual_rows")
    )
    return est.crossJoin(actual).select(
        "estimated_rows",
        "max_key_fanout",
        "n_join_keys",
        "actual_rows",
        (F.col("estimated_rows") == F.col("actual_rows")).alias("estimate_exact"),
    )


_BITMAP_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY event_type
"""


@op("agg_bitmap_distinct", tags=("agg", "scale"), oracle=_BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through bitmap aggregation — the dense-id
    alternative to both COUNT(DISTINCT) and HLL: user ids are packed into
    64-bit words (word = id div 64, bit = id mod 64), the per-(type, word)
    bit_or collapses every duplicate map-side, and popcounts sum to the
    exact distinct count. The shuffle carries at most |distinct ids| / 64
    words per group instead of every distinct id — a 64x reduction over
    Spark's Expand-based COUNT(DISTINCT) shuffle on dense id spaces, and
    unlike agg_hll_sketch_users the answer is EXACT. The oracle is plain
    COUNT(DISTINCT): bit-identical results from a completely different
    plan is the point.

    At 100 TB: this is the roaring-bitmap pattern warehouses use for
    audience counting; for sparse/high id spaces the word table degrades
    toward |distinct| rows and HLL (agg_hll_sketch_users) takes over —
    the two ops bracket the exact-vs-approximate trade."""
    ev = lt(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.expr("user_id div 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_users")
    )


_BITMAP_SETOPS_ORACLE = """
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.user_id AS ua, b.user_id AS ub
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
),
inter AS (
  SELECT type_a, type_b, COUNT(*) AS n_both
  FROM (SELECT DISTINCT type_a, type_b, ua FROM pairs) GROUP BY 1, 2
),
sizes AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1)
SELECT p.type_a, p.type_b,
       p.n_a, p.n_b, COALESCE(i.n_both, 0) AS n_both,
       p.n_a + p.n_b - COALESCE(i.n_both, 0) AS n_union,
       CAST((COALESCE(i.n_both, 0) * 1000000)
            // CAST(p.n_a + p.n_b - COALESCE(i.n_both, 0) AS BIGINT)
            AS BIGINT) AS jaccard_ppm
FROM (SELECT sa.event_type AS type_a, sb.event_type AS type_b,
             sa.n AS n_a, sb.n AS n_b
      FROM sizes sa JOIN sizes sb ON sa.event_type < sb.event_type) p
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
"""


@op("agg_bitmap_set_ops", tags=("agg", "scale"), oracle=_BITMAP_SETOPS_ORACLE)
def agg_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap as EXACT bitmap set algebra: per event-type pair,
    |A|, |B|, |A∩B|, |A∪B| and integer-ppm Jaccard — computed not from the
    raw id stream but from the per-(type, word) 64-bit bitmap words of
    agg_bitmap_distinct: intersection is popcount(AND), union follows by
    inclusion-exclusion, so after ONE |distinct|/64-sized aggregate, every
    pairwise overlap costs a |words|-sized self-join with pure bit math —
    no re-shuffle of ids per pair, which is why warehouses store audience
    bitmaps rather than id lists. The oracle recomputes everything from
    DISTINCT id pairs; exact agreement from a completely different plan.

    The pair self-join is |types|² × |words| — at 100 TB you'd restrict to
    requested pairs or band the type list; the id stream is read once
    regardless of how many pairs are asked."""
    ev = lt(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.expr("user_id div 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "word", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "word", F.col("bits").alias("bb")
    )
    inter = (
        a.join(b, ["word"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.expr("ba & bb"))).alias("n_both"),
        )
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n")
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    # EVERY type pair is a report row, zero-overlap included: the word
    # self-join emits a pair only when two types share a 64-id WORD
    # bucket, which on sparse audiences is neither implied by nor
    # implying a shared user (fuzz sweep, sparse:12 — spark emitted a
    # shared-word zero-user pair the user-level oracle omitted). The
    # |types|² pair frame is broadcast-tiny; n_both coalesces to 0.
    return (
        sa.join(sb, F.col("type_a") < F.col("type_b"))
        .join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_both"), F.lit(0).cast("long")).alias("n_both"),
            (
                F.col("n_a") + F.col("n_b")
                - F.coalesce(F.col("n_both"), F.lit(0).cast("long"))
            ).alias("n_union"),
            F.expr(
                "(COALESCE(n_both, CAST(0 AS BIGINT)) * 1000000)"
                " div (n_a + n_b - COALESCE(n_both, CAST(0 AS BIGINT)))"
            ).alias("jaccard_ppm"),
        )
    )


_HLL_MERGE_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_daily_sketches,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_est_within_5pct
FROM events
GROUP BY event_type
"""


@op("agg_hll_daily_merge", tags=("relational", "scale", "agg", "sketch"), oracle=_HLL_MERGE_ORACLE)
def agg_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the property that makes sketches the
    scale answer for distinct counting over time hierarchies: one HLL
    sketch per (type, DAY) is built from the raw stream ONCE, then the
    monthly distinct-user estimate per type comes from hll_union_agg over
    the ~30 daily sketch blobs — the raw events are never re-read, which
    is exactly how a continuous aggregate serves "distinct users any date
    range" without a distinct shuffle per query (the sketch analog of
    stream_incremental_rollup's additive fold; COUNT/SUM are trivially
    mergeable, distinct needs the sketch). The oracle pins the daily
    sketch count and the exact distinct, and hash-checks the ±5% flag on
    the MERGED estimate — the union, not just the base sketches, must be
    sound."""
    ev = lt(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.count("*").alias("n_daily_sketches"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    # the NULL event_type is a real group out of BOTH groupBys, but a plain
    # equi-join drops it (NULL = NULL is not true) — null-safe equality
    # keeps the missing-type cohort a first-class report row
    # (nullstorm:141 kill: 5 rows vs the oracle's 6)
    return merged.alias("m").join(
        exact.alias("x"),
        F.col("m.event_type").eqNullSafe(F.col("x.event_type")),
    ).select(
        F.col("m.event_type").alias("event_type"),
        "n_daily_sketches",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_est_within_5pct"),
    )


_HINT_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@op("join_strategy_hint_shuffle_hash", tags=("scale", "join"), oracle=_HINT_ORACLE)
def join_strategy_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate physical-strategy override: the orders⋈lineitem join
    HINTED to SHUFFLE_HASH — Spark's default for two large sides is
    sort-merge (robust, spills), but when the build side's per-partition
    slice fits in memory a hash join skips BOTH sorts, and a planner
    that knows its data (we profile it: stats_join_key_skew,
    profile_parquet_metadata) earns that with a hint. The test asserts
    the plan actually contains ShuffledHashJoin (a silently-ignored hint
    is the classic failure mode of hint-driven tuning); results are
    value-checked against the strategy-free oracle, restating that the
    hint changes HOW, never WHAT.

    At 100 TB the same call is where skew/AQE decisions land: leave AQE
    on and it may still convert to broadcast at runtime if one side
    collapses after filters — the hint constrains the initial plan, not
    the adaptive one."""
    orders = lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = lt(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    j = orders.hint("SHUFFLE_HASH").join(
        li, orders.o_orderkey == li.l_orderkey
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(cents(F.col("l_extendedprice"))).alias(
            "price_cents"
        ),
    )
