"""Classic multi-join analytics queries (TPC-H Q3/Q5/Q10/Q18 shapes).

The reference delegates all relational analytics to downstream consumers
(SURVEY.md §2.6); the single-join ops in operators/relational.py cover each
join/agg primitive in isolation — these three cover the COMPOSED shapes a
warehouse actually runs, on the driver's TPC-H-ish tables (adapted to the
columns present: o_orderpriority stands in for o_shippriority):

- **shipping priority (Q3)** — selective dim filter → 3-way join → grouped
  revenue → top-N. The plan to want at 100 TB: the filtered customer dim
  broadcasts, orders⋈lineitem is the only real shuffle (co-partitioned on
  orderkey), and the top-10 is TakeOrderedAndProject (no global sort).
- **local supplier volume (Q5)** — 6-table star with a cross-dim equality
  (customer.nation == supplier.nation): region/nation/supplier/customer all
  broadcast; the fact-fact orders⋈lineitem join is again the lone shuffle.
  Catalyst's join reordering + AQE pick broadcast sides from stats.
- **returned-item reporting (Q10)** — quarter date window + returnflag
  filter → revenue per customer → top 20 by revenue.
- **large-volume customers (Q18)** — HAVING-subquery membership: a
  self-aggregation of the fact reduced to qualifying keys, broadcast back
  as a LEFT SEMI filter. The threshold compares exact integer cents so
  boundary membership can't flip between engines.

Revenue figures use the exact-integer-cents convention (functions/det.py)
so both engines produce bit-identical doubles; ORDER-BY-LIMIT cuts always
carry a unique tie-break key so the selected SET is deterministic.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import cents, dsum, sql_cents, sql_dsum
from ..registry import op
from ..sources.batch import load_table as lt

_REV = "l_extendedprice * (1 - l_discount)"

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {sql_dsum(_REV)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@op("query_shipping_priority", tags=("relational", "analytics"), oracle=_Q3_ORACLE)
def query_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue by order for one market
    segment, top 10. The segment-filtered customer dim is broadcast (its
    filter prunes ~4/5 of it before the build side ships); orders⋈lineitem
    shuffles once on orderkey; the final cut is TakeOrderedAndProject —
    rank-k rows leave each partition, never a global sort."""
    cust = lt(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = lt(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = lt(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name AS nation_name, {sql_dsum(_REV)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@op(
    "query_local_supplier_volume",
    tags=("relational", "analytics"),
    oracle=_Q5_ORACLE,
)
def query_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier sit in the same nation of one region — a 6-table star whose
    cross-dim equality (c_nationkey = s_nationkey) rides on the fact join.
    region→nation prunes the supplier/customer dims before they broadcast;
    the only shuffle is orders⋈lineitem on orderkey. At 100 TB Catalyst's
    join reordering + AQE keep every dim on the build side."""
    region = lt(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = lt(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = lt(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = lt(spark, sf_dir, "customer")
    orders = lt(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = lt(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(dsum(rev).alias("revenue"))
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, {sql_dsum(_REV)} AS revenue, c_acctbal,
       n_name AS nation_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@op(
    "query_returned_item_reporting",
    tags=("relational", "analytics"),
    oracle=_Q10_ORACLE,
)
def query_returned_item_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: one quarter's returned-item revenue per customer,
    top 20 — the 'who should we call' report. The quarter filter prunes
    orders before the fact join; nation broadcasts onto the grouped result
    (post-agg: one row per customer, not per lineitem). Top-20 is again
    TakeOrderedAndProject with c_custkey as the tie-break."""
    cust = lt(spark, sf_dir, "customer")
    nation = lt(spark, sf_dir, "nation")
    orders = lt(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = lt(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .agg(dsum(rev).alias("revenue"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            "c_acctbal",
            F.col("n_name").alias("nation_name"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {sql_dsum('l_quantity')} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM({sql_cents('l_quantity')}) > 300 * 100
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@op(
    "query_large_volume_customers",
    tags=("relational", "analytics"),
    oracle=_Q18_ORACLE,
)
def query_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with their customers — the HAVING-subquery pattern. The qualifying-order
    set is a self-aggregation of lineitem reduced to orderkeys (small:
    high-threshold survivors), joined back LEFT SEMI so no lineitem row is
    duplicated; the qualifier is broadcast. The threshold compare runs on
    exact integer cents on both engines (a raw double SUM differs in the
    last ulp between engines, which flips membership at the boundary)."""
    li = lt(spark, sf_dir, "lineitem")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("q_cents"))
        .filter(F.col("q_cents") > 300 * 100)
        .select("l_orderkey")
    )
    orders = lt(spark, sf_dir, "orders").join(
        F.broadcast(qualifying),
        F.col("o_orderkey") == qualifying["l_orderkey"],
        "left_semi",
    )
    cust = lt(spark, sf_dir, "customer")
    return (
        li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_ROLLUP_ORACLE = f"""
SELECT 'minute' AS level, CAST(date_trunc('minute', ts) AS TIMESTAMP)
         AS bucket_start,
       COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
FROM events GROUP BY 2
UNION ALL
SELECT 'hour', CAST(date_trunc('hour', ts) AS TIMESTAMP),
       COUNT(*), {sql_dsum('value')}
FROM events GROUP BY 2
UNION ALL
SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP),
       COUNT(*), {sql_dsum('value')}
FROM events GROUP BY 2
"""


@op(
    "window_time_hierarchical_rollup",
    tags=("relational", "window", "time"),
    oracle=_ROLLUP_ORACLE,
)
def window_time_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy (the hypertable-rollup pattern):
    minute buckets aggregate the raw events ONCE; hour buckets re-aggregate
    the minute table; day buckets re-aggregate hours. At 100 TB the raw
    scan happens once and each coarser level reads ~60× fewer rows than
    re-scanning raw — integer-cents sums make the re-aggregation EXACTLY
    equal to aggregating raw directly (associativity of integer addition),
    which the oracle checks by computing every level from the raw table."""
    ev = lt(spark, sf_dir, "events").select(
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("minute_start"),
        cents("value").alias("c"),
    )
    minute = ev.groupBy("minute_start").agg(
        F.count("*").alias("n_events"), F.sum("c").alias("c")
    )
    hour = (
        minute.groupBy(
            F.date_trunc("hour", "minute_start")
            .cast("timestamp_ntz")
            .alias("hour_start")
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("c").alias("c"))
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", "hour_start")
            .cast("timestamp_ntz")
            .alias("day_start")
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("c").alias("c"))
    )

    def lvl(df: DataFrame, name: str, bucket: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("level"),
            F.col(bucket).alias("bucket_start"),
            "n_events",
            (F.col("c") / F.lit(100.0)).alias("total_value"),
        )

    return (
        lvl(minute, "minute", "minute_start")
        .unionAll(lvl(hour, "hour", "hour_start"))
        .unionAll(lvl(day, "day", "day_start"))
    )


_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT f.user_id) AS n_active
FROM firsts f JOIN active a ON f.user_id = a.user_id
GROUP BY f.cohort_week, week_offset
"""


@op(
    "agg_cohort_retention",
    tags=("relational", "analytics", "time"),
    oracle=_RETENTION_ORACLE,
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — users grouped by first-activity week, counted
    distinct in each later week they return. Two aggregations over the
    same scan (first-touch per user, then distinct user-weeks) joined on
    user_id; both shuffles key on user_id so AQE coalesces them into one
    exchange reuse. Week arithmetic sticks to DATE + day-diff div 7
    (timestampdiff on NTZ is session-tz-dependent; datediff on DATE is
    not)."""
    ev = lt(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("wk")).distinct()
    return (
        firsts.join(active, "user_id")
        .groupBy(
            F.col("cohort_week").cast("timestamp_ntz").alias("cohort_week"),
            F.expr("datediff(wk, cohort_week) div 7")
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS step_idx, 'signup' AS step, COUNT(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'view_after_signup', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase_after_view', COUNT(*) FROM s3
)
"""


@op(
    "agg_funnel_steps",
    tags=("relational", "analytics", "time"),
    oracle=_FUNNEL_ORACLE,
)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users whose first signup precedes a later
    view precedes a later purchase — each stage is a per-user MIN over the
    events AFTER the previous stage's timestamp. Every stage keys its
    shuffle on user_id, so the three aggregations and two joins share one
    partitioning end-to-end (no re-shuffle between stages); the event-type
    filters push to the scan. Strictly-ordered semantics (ts >, not >=)
    are pinned by the oracle."""
    ev = lt(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(idx).alias("step_idx"),
            F.lit(name).alias("step"),
            "n_users",
        )

    return (
        stage(s1, 1, "signup")
        .unionAll(stage(s2, 2, "view_after_signup"))
        .unionAll(stage(s3, 3, "purchase_after_view"))
    )


_SCD2_ORACLE = """
WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
changes AS (
  SELECT c_custkey, c_name, (c_acctbal + 100.0) AS new_acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'new-' || c_name, 500.0
  FROM customer WHERE c_custkey % 13 = 0
),
closed AS (
  SELECT b.c_custkey, b.c_name, b.c_acctbal, 1 AS version, FALSE AS is_current
  FROM base b JOIN changes c ON b.c_custkey = c.c_custkey
),
unchanged AS (
  SELECT b.c_custkey, b.c_name, b.c_acctbal, 1, TRUE
  FROM base b ANTI JOIN changes c ON b.c_custkey = c.c_custkey
),
updated AS (
  SELECT c.c_custkey, c.c_name, c.new_acctbal, 2, TRUE
  FROM changes c JOIN base b ON b.c_custkey = c.c_custkey
),
inserted AS (
  SELECT c.c_custkey, c.c_name, c.new_acctbal, 1, TRUE
  FROM changes c ANTI JOIN base b ON b.c_custkey = c.c_custkey
)
SELECT * FROM closed UNION ALL SELECT * FROM unchanged
UNION ALL SELECT * FROM updated UNION ALL SELECT * FROM inserted
"""


@op("merge_scd2_dimension", tags=("relational", "merge"), oracle=_SCD2_ORACLE)
def merge_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge — what MERGE INTO compiles
    to: a deterministic change batch (updates for custkey%7, inserts keyed
    above the base range for custkey%13) applied against the customer dim,
    emitting closed prior versions, untouched current rows, updated current
    rows, and brand-new rows. The whole merge is ONE hash-partitioning on
    the business key shared by all four branches (Catalyst reuses the
    exchange; with a small change batch the join sides broadcast instead).
    At 100 TB this is the idempotent dim-maintenance job: re-running the
    same batch yields the same versions because versioning derives from
    membership, not from run order."""
    base = lt(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    upd = base.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name", (F.col("c_acctbal") + 100.0).alias("new_acctbal")
    )
    ins = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
        F.lit(500.0).alias("new_acctbal"),
    )
    changes = upd.unionAll(ins)
    ck = changes.select("c_custkey")
    closed = (
        base.join(ck, "c_custkey", "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn("version", F.lit(1))
        .withColumn("is_current", F.lit(False))
    )
    unchanged = (
        base.join(ck, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn("version", F.lit(1))
        .withColumn("is_current", F.lit(True))
    )
    bk = base.select("c_custkey")
    updated = (
        changes.join(bk, "c_custkey", "left_semi")
        .select("c_custkey", "c_name", F.col("new_acctbal").alias("c_acctbal"))
        .withColumn("version", F.lit(2))
        .withColumn("is_current", F.lit(True))
    )
    inserted = (
        changes.join(bk, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", F.col("new_acctbal").alias("c_acctbal"))
        .withColumn("version", F.lit(1))
        .withColumn("is_current", F.lit(True))
    )
    return closed.unionAll(unchanged).unionAll(updated).unionAll(inserted)


from pyspark.sql import Window as W  # noqa: E402  (windowed analytics below)

_ROLL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_day
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(d AS TIMESTAMP) AS day_start,
       (d - DATE '1970-01-01') AS day_num,
       n_day,
       CAST(SUM(n_day) OVER (
         PARTITION BY event_type ORDER BY (d - DATE '1970-01-01')
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_7d
FROM daily
"""


@op("window_rolling_7day_volume", tags=("relational", "window", "time"), oracle=_ROLL_ORACLE)
def window_rolling_7day_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day event volume per event type: a RANGE frame over
    integer epoch-days, so days missing from the data still shrink the
    window (a ROWS frame would silently span gaps — the classic rolling-
    metric bug). Day arithmetic is tz-free (unix_date on the DATE part of
    the NTZ timestamp; the same integer on both engines).

    Scale shape: the heavy shuffle is the map-side-combined daily aggregate
    (its width is |type × day|, not |events|); the window then re-keys that
    already-tiny table onto event_type alone — a second exchange, but of
    hundreds of rows, by design: forcing one shuffle by pre-partitioning on
    event_type would cap the big aggregation at |types| tasks, which is the
    wrong trade at 100 TB. Each window partition sorts only its own day
    rows. Counts stay BIGINT end-to-end (DuckDB's HUGEINT window sum cast
    back), no floats anywhere.
    """
    ev = lt(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
    ).agg(F.count("*").alias("n_day"))
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-6, W.currentRow)
    )
    return daily.select(
        "event_type",
        F.col("d").cast("timestamp_ntz").alias("day_start"),
        F.unix_date(F.col("d")).cast("long").alias("day_num"),  # oracle BIGINT
        "n_day",
        F.sum("n_day").over(w).alias("n_7d"),
    )


_TREND_ORACLE = f"""
WITH monthly AS (
  SELECT n_name AS nation_name,
         (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) - 1 AS x,
         CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
moments AS (
  SELECT nation_name, COUNT(*) AS n_months,
         CAST(SUM(x) AS BIGINT)     AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT)     AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM monthly GROUP BY 1
)
SELECT nation_name, n_months,
       n_months * sxy - sx * sy AS slope_num,
       n_months * sxx - sx * sx AS slope_den,
       CASE WHEN n_months * sxx - sx * sx <> 0
            THEN CAST(n_months * sxy - sx * sy AS DOUBLE)
                   / CAST(n_months * sxx - sx * sx AS DOUBLE)
            ELSE NULL END AS slope_cents_per_month
FROM moments
"""


@op("agg_linear_trend", tags=("relational", "agg", "analytics"), oracle=_TREND_ORACLE)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: ordinary-least-squares slope of monthly
    order revenue, via the closed-form slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    computed entirely in exact BIGINT moments — x is a SMALL rebased month
    index ((year−1992)·12 + month−1), which is what keeps Σxy and the
    numerator inside BIGINT even at the 100 TB design point (sy per nation
    ≈ 1e15 cents at sf100; ×Σx ≈ 3e18, under the 9.2e18 BIGINT ceiling —
    rebasing to epoch months would overflow). The single float division at
    the end is the same two exact integers on both engines.

    Scale shape: dims broadcast onto the orders scan, one shuffle to
    (nation, month) partial aggregates, then a 25-key moment aggregate —
    an iterative-free distributed regression; no window, no sort, no UDF.
    """
    orders = lt(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    cust = lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = lt(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    monthly = (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1).alias("x"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("y"))
    )
    moments = monthly.groupBy("nation_name").agg(
        F.count("*").alias("n_months"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("long") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    return moments.select(
        "nation_name",
        "n_months",
        num.alias("slope_num"),
        den.alias("slope_den"),
        # den = 0 ⇔ the nation has one active month — slope undefined
        # (NULL), and under ANSI the unguarded double division is a
        # runtime DIVIDE_BY_ZERO (found by the sparse-profile fuzz sweep)
        F.when(den != 0, num.cast("double") / den.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("slope_cents_per_month"),
    )


_RECON_ORACLE = """
WITH o AS (
  SELECT o_orderkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS order_total_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY o_orderkey
),
l AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0)
                  AS BIGINT)) AS BIGINT) AS line_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY l_orderkey
)
SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'line_only'
            WHEN l.l_orderkey IS NULL THEN 'order_only'
            ELSE 'both' END AS status,
       COALESCE(o.order_total_cents, 0)  AS order_total_cents,
       COALESCE(l.line_revenue_cents, 0) AS line_revenue_cents,
       COALESCE(l.line_revenue_cents, 0) - COALESCE(o.order_total_cents, 0)
         AS diff_cents
FROM o FULL JOIN l ON o.o_orderkey = l.l_orderkey
"""


@op("join_outer_reconciliation", tags=("relational", "join"), oracle=_RECON_ORACLE)
def join_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation — the accounting shape: orders placed in
    1995 vs lineitem revenue shipped in 1995, per order key, classifying
    every key as matched, order-only (placed late 1995, ships 1996), or
    line-only (placed 1994, ships 1995). Completes the engine's join-type
    coverage (inner/broadcast/salted/bucketed/as-of/range/semi/anti/full).

    Scale shape: both sides pre-aggregate BEFORE the join (the grouped
    tables are |keys|-sized, not |rows|-sized), then full-outer sort-merge
    join on the shared o_orderkey partitioning — one shuffle per side, and
    the same bucketed layout that serves join_bucketed_colocated would
    eliminate both. Amounts are exact integer cents COALESCEd to 0, never
    NULL, so the driver's pandas bridge keeps BIGINT dtype on both engines
    (a nullable int column would float64-coerce and hash-mismatch).
    """
    orders = (
        lt(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_orderkey")
        .agg(F.sum(cents("o_totalprice")).alias("order_total_cents"))
    )
    lines = (
        lt(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("line_revenue_cents")
        )
    )
    j = orders.join(lines, orders.o_orderkey == lines.l_orderkey, "full_outer")
    return j.select(
        F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
        F.when(F.col("o_orderkey").isNull(), "line_only")
        .when(F.col("l_orderkey").isNull(), "order_only")
        .otherwise("both")
        .alias("status"),
        F.coalesce("order_total_cents", F.lit(0)).alias("order_total_cents"),
        F.coalesce("line_revenue_cents", F.lit(0)).alias("line_revenue_cents"),
        (
            F.coalesce("line_revenue_cents", F.lit(0))
            - F.coalesce("order_total_cents", F.lit(0))
        ).alias("diff_cents"),
    )


# --- Correlated-subquery shapes (Q4 / Q21 / Q22) ---------------------------
# These three run ONE ANSI template on both engines: each `{table}` field is
# a table. Spark gets the loaded frames as `spark.sql` arguments (PySpark
# names each one `_pyspark_<uuid>` and drops that view once the text is
# analyzed, so no name is left in the session catalog); the DuckDB oracle is
# the same template with the plain table names filled in. What is under test
# is Catalyst's subquery decorrelation — EXISTS and NOT EXISTS rewritten to
# semi/anti joins with mixed equi + non-equi correlated predicates, never a
# per-row subquery loop.

def _tables(template: str) -> list[str]:
    return sorted({f for _, f, _, _ in string.Formatter().parse(template) if f})


def _plain(template: str) -> str:
    """The template as DuckDB text: every field filled with its table name."""
    return template.format(**{t: t for t in _tables(template)})


def _on_tables(spark: SparkSession, sf_dir: str, template: str) -> DataFrame:
    """The template as a Spark plan over the tables loaded from ``sf_dir``."""
    return spark.sql(template, **{t: lt(spark, sf_dir, t) for t in _tables(template)})


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@op("query_exists_late_orders", tags=("relational", "analytics", "subquery"), oracle=_plain(_Q4_SQL))
def query_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking, late := shipped >60 days
    after order date since this schema has no commit/receipt dates): count
    1995 orders per priority that have at least one late line. The EXISTS
    carries an equality on the order key plus a NON-equi correlated date
    predicate; Catalyst decorrelates it into ONE left-semi hash join on
    l_orderkey with the date comparison as a residual condition — the
    lineitem side is touched once, never per outer row. The oracle is the
    same template."""
    return _on_tables(spark, sf_dir, _Q4_SQL)


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM {supplier}
JOIN {lineitem} l1 ON s_suppkey = l1.l_suppkey
JOIN {orders} ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@op("query_waiting_suppliers", tags=("relational", "analytics", "subquery"), oracle=_plain(_Q21_SQL))
def query_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting orders: last shipper on
    multi-supplier finished orders — receipt/commit dates reframed onto
    l_shipdate): EXISTS another supplier on the order, NOT EXISTS anyone who
    shipped later. Catalyst plans the pair as a semi join + an anti join,
    BOTH keyed on l_orderkey — so all three lineitem touches ride the same
    hash partitioning and AQE coalesces them, with the <> and date residuals
    evaluated inside the joins; the top-10 is TakeOrderedAndProject. The
    oracle is the same template."""
    return _on_tables(spark, sf_dir, _Q21_SQL)


_Q22_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM {customer} WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM {customer} CROSS JOIN avg_bal
WHERE CAST(ROUND(c_acctbal * 100.0) AS BIGINT) * n > s
  AND NOT EXISTS (
    SELECT 1 FROM {orders}
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


@op("query_dormant_rich_customers", tags=("relational", "analytics", "subquery"), oracle=_plain(_Q22_SQL))
def query_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, segment standing in for
    phone country code): customers with above-average positive balance and
    no urgent-priority orders (this corpus has no order-less customers, so
    the anti-join predicate is urgency rather than existence), rolled up
    per market segment. The scalar AVG subquery
    is restated as the exact-integer cross-multiplication
    `cents * n > sum_cents` — no division, so boundary membership cannot
    flip between engines — and the one-row aggregate rides a broadcast
    nested-loop join; the NOT EXISTS decorrelates to a left-anti hash join
    on the customer key. The oracle is the same template."""
    return _on_tables(spark, sf_dir, _Q22_SQL)


_LATERAL_SQL = """
SELECT n_name, t.c_name, t.bal_cents
FROM {nation}, LATERAL (
  SELECT c_name, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS bal_cents
  FROM {customer}
  WHERE c_nationkey = n_nationkey
  ORDER BY bal_cents DESC, c_name
  LIMIT 2
) t
"""


@op("query_lateral_topk", tags=("relational", "analytics", "subquery"), oracle=_plain(_LATERAL_SQL))
def query_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 customers by balance FOR EACH
    nation, written as the per-row subquery a user reaches for first.
    Catalyst decorrelates the ORDER BY ... LIMIT lateral into a ranked
    join (the nation dim broadcasts; the per-group cut runs where the
    data lives) — no per-nation re-execution of the inner query, which is
    what makes the construct survive 25 nations or 25 million merchants
    unchanged. Same ANSI text on both engines (DuckDB executes the
    LATERAL natively); exact-cents sort key with a name tie-break keeps
    the LIMIT cut deterministic. Completes the subquery surface next to
    the EXISTS / NOT EXISTS / scalar-agg shapes."""
    return _on_tables(spark, sf_dir, _LATERAL_SQL)


_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       {sql_dsum(_REV)} AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_nationkey <> n2.n_nationkey
  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, ship_year
"""


@op("query_nation_pair_trade", tags=("relational", "analytics"), oracle=_Q7_ORACLE)
def query_nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): cross-border revenue between every
    (supplier nation, customer nation) pair by ship year — the composed
    query where TWO copies of the same dimension join the fact chain under
    different roles. Both nation copies and supplier/customer broadcast;
    orders⋈lineitem remains the lone real shuffle; the inequality filter
    keeps only cross-border flows. Revenue in exact cents via the shared
    dsum convention."""
    li = lt(spark, sf_dir, "lineitem")
    sup = lt(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = lt(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = lt(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.where(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))


_Q19_ORACLE = """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 35)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20 AND l_quantity <= 50)
"""


@op("query_disjunctive_predicates", tags=("relational", "analytics"), oracle=_Q19_ORACLE)
def query_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR-of-ANDs across BOTH
    join sides — the predicate structure that defeats naive pushdown.
    Catalyst still extracts the common p_brand IN (...) and size/quantity
    envelope conditions as single-side pre-filters (visible as
    PushedFilters on each scan) before evaluating the full disjunction on
    the joined rows, so both tables shrink before the join even though no
    single conjunct applies globally. Revenue in exact cents; COUNT
    pins the surviving-row set."""
    li = lt(spark, sf_dir, "lineitem")
    part = lt(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    pred = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#23") & sz.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#34") & sz.between(20, 50) & q.between(20, 50))
    )
    return j.where(pred).agg(
        F.count("*").alias("n_lines"),
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "long"
            )
        ).alias("revenue_cents"),
    )


# --- TPC-H surface completion (Q6 / Q8 / Q13 / Q14 / Q15 / Q17) ------------
# With these six, every TPC-H query whose tables exist in this corpus has a
# registered shape (Q2/Q9/Q11/Q16/Q20 need partsupp, which the driver's
# schema does not carry; Q12 needs commit/receipt dates + shipmode). Ref:
# the reference engine ships raw chain tables to downstream warehouses
# (SURVEY.md §2.6) — this family IS that downstream query surface.


_Q6_ORACLE = f"""
SELECT COUNT(*) AS n_lines,
       {sql_dsum("l_extendedprice * l_discount", 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@op("query_forecast_revenue", tags=("relational", "analytics"), oracle=_Q6_ORACLE)
def query_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): one scan, three conjunctive
    range predicates, one global sum — the canonical pushdown benchmark.
    All three predicates reach the parquet reader as PushedFilters (date
    min/max prune row groups; discount/quantity prune pages), so at 100 TB
    the scan reads only the 1996 stripes of three columns. The revenue
    product has 4 decimal places (price×discount), so exactness uses
    scale-4 integer units; discount literals 0.05/0.07 compare exactly
    because the corpus stores those doubles bit-identically."""
    li = lt(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.count("*").alias("n_lines"),
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
    )


_Q8_NATION = "NATION_3"

_Q8_ORACLE = f"""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {sql_cents("l_extendedprice * (1 - l_discount)")} AS rev_cents,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN rev_cents ELSE 0 END)
            AS BIGINT) AS nation_cents,
       CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
       CAST((SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN rev_cents ELSE 0 END)
             * 1000000) // SUM(rev_cents) AS BIGINT) AS mkt_share_ppm
FROM base
GROUP BY o_year
"""


@op("query_market_share", tags=("relational", "analytics"), oracle=_Q8_ORACLE)
def query_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one supplier nation's share of
    AMERICA-region STANDARD-part revenue per order year. An 8-table star
    where the SAME dimension joins twice under different roles (customer
    nation restricts the market, supplier nation labels the flow). Every
    dim broadcasts after its own filter prunes it; orders⋈lineitem stays
    the lone shuffle. The share is exact integer parts-per-million via
    floor division — no float ratio to drift (at petabyte totals the
    cross-multiplication would move to DECIMAL(38), noted, but the gate
    runs integer-exact). Completes the market-share shape next to Q7's
    nation-pair flows."""
    li = lt(spark, sf_dir, "lineitem")
    part = lt(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    sup = lt(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = lt(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = lt(spark, sf_dir, "nation")
    region = lt(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cnk"))
    n2 = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("snk"))
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    agg = j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == _Q8_NATION, rev).otherwise(F.lit(0))
        ).alias("nation_cents"),
        F.sum(rev).alias("total_cents"),
    )
    return agg.select(
        "o_year",
        "nation_cents",
        "total_cents",
        F.expr("(nation_cents * 1000000) div total_cents").alias("mkt_share_ppm"),
    )


_Q13_ORACLE = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


@op("query_customer_distribution", tags=("relational", "analytics"), oracle=_Q13_ORACLE)
def query_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly N non-urgent orders — including zero, which is why the LEFT
    join with the filter INSIDE the join condition matters (a WHERE would
    silently drop the zero-order customers the query exists to count).
    Two cascaded aggregations: the first shuffles on custkey (same key as
    the join, so AQE reuses the exchange), the second reduces to at most
    ~hundreds of distinct counts — a broadcast-sized result. Counts are
    BIGINT on both engines; no floats anywhere."""
    cust = lt(spark, sf_dir, "customer").select("c_custkey")
    orders = lt(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q14_ORACLE = f"""
SELECT
  ({sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")})
    AS promo_revenue,
  ({sql_dsum("l_extendedprice * (1 - l_discount)")}) AS total_revenue,
  CAST((SUM(CASE WHEN p_type = 'PROMO'
                 THEN {sql_cents("l_extendedprice * (1 - l_discount)")}
                 ELSE 0 END) * 1000000)
       // SUM({sql_cents("l_extendedprice * (1 - l_discount)")}) AS BIGINT)
    AS promo_ppm
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@op("query_promo_revenue", tags=("relational", "analytics"), oracle=_Q14_ORACLE)
def query_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of one month's revenue that
    came from PROMO-type parts. A conditional-aggregate ratio — both the
    numerator and denominator come out of ONE pass over the month's
    lineitem joined to the broadcast part dim (no second scan, no self
    join). The month predicate prunes the fact scan; the share is exact
    integer ppm (floor division on cent sums) plus both revenue legs in
    the shared dsum convention, so the ratio can't drift between engines."""
    li = lt(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = lt(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo_c = F.when(F.col("p_type") == "PROMO", rev_c).otherwise(F.lit(0))
    agg = j.agg(
        F.sum(promo_c).alias("_pc"),
        F.sum(rev_c).alias("_tc"),
    )
    return agg.select(
        (F.col("_pc") / F.lit(100.0)).alias("promo_revenue"),
        (F.col("_tc") / F.lit(100.0)).alias("total_revenue"),
        F.expr("(_pc * 1000000) div _tc").alias("promo_ppm"),
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, (total_cents / 100.0) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_cents = (SELECT MAX(total_cents) FROM revenue)
ORDER BY s_suppkey
"""


@op("query_top_supplier", tags=("relational", "analytics", "subquery"), oracle=_Q15_ORACLE)
def query_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose quarter revenue
    equals the global maximum — the view-plus-scalar-subquery shape. The
    quarter aggregate shuffles once on suppkey; its one-row MAX is joined
    back as a broadcast (Spark: explicit crossJoin of the 1-row aggregate;
    DuckDB: scalar subquery over the same CTE), so the 'which rows hit the
    max' cut never re-sorts or re-scans the fact. Ties are kept — equality
    on an exact BIGINT cent total, not a float — and ordered by suppkey
    for a deterministic result set."""
    li = lt(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_cents"
        )
    )
    mx = rev.agg(F.max("total_cents").alias("_mx"))
    sup = lt(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_cents") / F.lit(100.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q17_ORACLE = """
WITH pq AS (
  SELECT l_partkey AS ap,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         COUNT(*) AS n_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_brand = 'Brand#23' AND p_size <= 25)
  GROUP BY l_partkey
)
SELECT COUNT(*) AS n_lines,
       (SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) / 700.0) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pq   ON ap = l_partkey
WHERE p_brand = 'Brand#23' AND p_size <= 25
  AND CAST(l_quantity AS BIGINT) * 5 * n_qty < sum_qty
"""


@op("query_small_quantity_revenue", tags=("relational", "analytics", "subquery"), oracle=_Q17_ORACLE)
def query_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lines of one brand whose
    quantity is below 20% of that part's own average — the correlated-AVG
    shape. The per-part average is computed ONCE as a grouped aggregate
    over only the brand's parts (semi-filtered by the broadcast dim before
    the groupBy, so the aggregate never touches the other brands' lines)
    and joined back on partkey — same key as the fact join, one shuffle
    partitioning serves both. The 20% threshold is restated as the exact
    integer cross-multiplication 5·qty·n < Σqty (quantities are integral),
    so boundary rows can't flip between engines; yearly revenue divides
    exact cents by 700.0 once."""
    part = lt(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 25)
    ).select("p_partkey")
    li = lt(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
    pq = li_b.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count("*").alias("n_qty"),
    )
    j = li_b.join(pq, li_b.l_partkey == pq.ap).where(
        F.col("l_quantity").cast("long") * 5 * F.col("n_qty") < F.col("sum_qty")
    )
    return j.agg(
        F.count("*").alias("n_lines"),
        (F.sum(cents("l_extendedprice")) / F.lit(700.0)).alias("avg_yearly"),
    )


_YOY_ORACLE = f"""
WITH rev AS (
  SELECT n_name AS nation_name,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, o_year
),
seq AS (
  SELECT nation_name, o_year, rev_cents,
         LAG(rev_cents) OVER (PARTITION BY nation_name ORDER BY o_year)
           AS prev_cents
  FROM rev
)
SELECT nation_name, o_year, rev_cents,
       COALESCE(prev_cents, 0) AS prev_cents,
       CASE WHEN prev_cents IS NULL THEN 0
            ELSE rev_cents - prev_cents END AS delta_cents,
       CAST(CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN 0
                 WHEN rev_cents >= prev_cents
                   THEN ((rev_cents - prev_cents) * 1000000) // prev_cents
                 ELSE -(((prev_cents - rev_cents) * 1000000) // prev_cents)
            END AS BIGINT) AS growth_ppm
FROM seq
"""


@op("query_yoy_growth", tags=("relational", "analytics"), oracle=_YOY_ORACLE)
def query_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the standard trend
    report: revenue rolls up to (nation, year) in exact cents, LAG pairs
    each year with its predecessor along the nation's own timeline (no
    self-join on year-1, so gap years degrade gracefully instead of
    dropping rows), and growth lands as exact signed ppm via floor
    division with the caveat year (no predecessor) pinned to zero
    sentinels — every output column non-nullable. Note growth_ppm of a
    FALLING year is negative and floor division rounds toward -∞
    identically on both engines because the numerator sign is handled by
    the same `div`/`//` pair the interpolation op pinned.

    Scale shape: dims broadcast onto the orders scan, ONE shuffle for
    the (nation, year) rollup, and the LAG window runs over the
    rollup-sized table (|nations×years|), not the fact."""
    orders = lt(spark, sf_dir, "orders")
    cust = lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = lt(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("nation_name").orderBy("o_year")
    seq = rev.withColumn("prev_raw", F.lag("rev_cents").over(w))
    return seq.select(
        "nation_name",
        "o_year",
        "rev_cents",
        F.coalesce("prev_raw", F.lit(0)).alias("prev_cents"),
        F.when(F.col("prev_raw").isNull(), 0)
        .otherwise(F.col("rev_cents") - F.col("prev_raw"))
        .cast("long")
        .alias("delta_cents"),
        F.when(
            F.col("prev_raw").isNull() | (F.col("prev_raw") == 0), F.lit(0)
        )
        .otherwise(
            F.expr(
                "CASE WHEN (rev_cents - prev_raw) >= 0"
                " THEN ((rev_cents - prev_raw) * 1000000) div prev_raw"
                " ELSE -((-(rev_cents - prev_raw)) * 1000000 div prev_raw)"
                " END"
            )
        )
        .cast("long")
        .alias("growth_ppm"),
    )


_BRIDGE_Y1 = "1995"
_BRIDGE_Y2 = "1996"

_BRIDGE_ORACLE = f"""
WITH py AS (
  SELECT l_partkey AS pk, CAST(year(l_shipdate) AS BIGINT) AS y,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM({sql_cents("l_extendedprice")}) AS BIGINT) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_BRIDGE_Y1}-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '{int(_BRIDGE_Y2) + 1}-01-01 00:00:00'
  GROUP BY pk, y
),
pair AS (
  SELECT COALESCE(a.pk, b.pk) AS pk,
         a.q AS q1, a.r AS r1, b.q AS q2, b.r AS r2
  FROM (SELECT * FROM py WHERE y = {_BRIDGE_Y1}) a
  FULL OUTER JOIN (SELECT * FROM py WHERE y = {_BRIDGE_Y2}) b
    ON a.pk = b.pk
),
legs AS (
  SELECT
    CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
      CASE WHEN (q2 - q1) * r1 >= 0 THEN ((q2 - q1) * r1) // q1
           ELSE -(((q1 - q2) * r1) // q1) END
    ELSE 0 END AS volume_cents,
    CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
      (r2 - r1) - (CASE WHEN (q2 - q1) * r1 >= 0 THEN ((q2 - q1) * r1) // q1
                        ELSE -(((q1 - q2) * r1) // q1) END)
    ELSE 0 END AS price_cents,
    CASE WHEN q1 IS NULL THEN r2 ELSE 0 END AS new_parts_cents,
    CASE WHEN q2 IS NULL THEN -r1 ELSE 0 END AS dropped_parts_cents,
    COALESCE(r2, 0) - COALESCE(r1, 0) AS delta_cents
  FROM pair
)
SELECT CAST(SUM(volume_cents) AS BIGINT) AS volume_effect_cents,
       CAST(SUM(price_cents) AS BIGINT) AS price_effect_cents,
       CAST(SUM(new_parts_cents) AS BIGINT) AS new_parts_cents,
       CAST(SUM(dropped_parts_cents) AS BIGINT) AS dropped_parts_cents,
       CAST(SUM(delta_cents) AS BIGINT) AS total_delta_cents
FROM legs
"""


@op("query_bridge_decomposition", tags=("relational", "analytics"), oracle=_BRIDGE_ORACLE)
def query_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue BRIDGE (waterfall) decomposition between two ship years:
    Δrevenue = volume effect + price effect + new parts − dropped parts,
    the finance-review chart behind every 'why did revenue move' answer.
    Exactness discipline: the volume leg is (Δq · r₁) div q₁ in truncating
    integer division (negative branch spelled out — the div/// pairing
    the interpolation op pinned), and the price leg is DEFINED as the
    remainder (r₂−r₁) − volume, so the four legs sum to the true delta
    TO THE CENT by construction — no floating waterfall that drifts a
    penny and erodes trust in the whole chart. Parts present in only one
    year land in the new/dropped legs via the FULL OUTER pair join.

    Scale shape: one (part, year) rollup with map-side combine, a
    self-pair FULL OUTER join on the part key (same partitioning), and a
    one-row reduction."""
    li = lt(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= f"{_BRIDGE_Y1}-01-01")
        & (F.col("l_shipdate") < f"{int(_BRIDGE_Y2) + 1}-01-01")
    )
    py = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").cast("long").alias("y"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
        F.sum(cents("l_extendedprice")).alias("r"),
    )
    a = py.where(F.col("y") == int(_BRIDGE_Y1)).select(
        "pk", F.col("q").alias("q1"), F.col("r").alias("r1")
    )
    b = py.where(F.col("y") == int(_BRIDGE_Y2)).select(
        F.col("pk").alias("pk2"), F.col("q").alias("q2"), F.col("r").alias("r2")
    )
    pair = a.join(b, a.pk == b.pk2, "full_outer")
    both = F.col("q1").isNotNull() & F.col("q2").isNotNull()
    vol = F.expr(
        "CASE WHEN (q2 - q1) * r1 >= 0 THEN ((q2 - q1) * r1) div q1"
        " ELSE -(((q1 - q2) * r1) div q1) END"
    )
    legs = pair.select(
        F.when(both, vol).otherwise(F.lit(0)).alias("volume_cents"),
        F.when(both, (F.col("r2") - F.col("r1")) - vol)
        .otherwise(F.lit(0))
        .alias("price_cents"),
        F.when(F.col("q1").isNull(), F.col("r2")).otherwise(F.lit(0)).alias(
            "new_parts_cents"
        ),
        F.when(F.col("q2").isNull(), -F.col("r1")).otherwise(F.lit(0)).alias(
            "dropped_parts_cents"
        ),
        (F.coalesce("r2", F.lit(0)) - F.coalesce("r1", F.lit(0))).alias(
            "delta_cents"
        ),
    )
    return legs.agg(
        F.sum("volume_cents").alias("volume_effect_cents"),
        F.sum("price_cents").alias("price_effect_cents"),
        F.sum("new_parts_cents").alias("new_parts_cents"),
        F.sum("dropped_parts_cents").alias("dropped_parts_cents"),
        F.sum("delta_cents").alias("total_delta_cents"),
    )
