"""Layout-plan tests: the 100 TB physical design is executable and the
bucketed as-of join it promises actually plans shuffle-free."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from australis_indexer_spark.plans.layout import LAYOUTS, TableLayout, apply_layout
from australis_indexer_spark.schemas import NORMALIZED_TABLES


def test_every_normalized_table_has_a_layout():
    for t in NORMALIZED_TABLES:
        assert t in LAYOUTS or t in ("shards",), f"no layout for {t}"


def test_asof_join_sides_share_bucketing():
    r, o = LAYOUTS["receipts"], LAYOUTS["execution_outcomes"]
    assert r.bucket_by == o.bucket_by == ("receipt_id",)
    assert r.n_buckets == o.n_buckets


def test_partitioned_write_prunes(spark, ops, tmp_path):
    """Writing through a layout yields partition-pruned scans."""
    df = ops["explode_outcomes"].fn(spark, "").withColumn(
        "height_bucket", (F.col("block_height") / 16).cast("long") * 16
    )
    lay = TableLayout("t", ("height_bucket",))
    out = str(tmp_path)
    apply_layout(df, lay, out)
    back = spark.read.parquet(out)
    one_bucket = back.filter(F.col("height_bucket") == 63_596 // 16 * 16)
    plan = one_bucket._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert one_bucket.count() > 0


def test_bucketed_join_is_shuffle_free(spark, ops):
    """receipts ⋈ outcomes on receipt_id over bucketed tables must plan with
    NO Exchange on either join side — the co-located as-of join."""
    import shutil

    for t in ("t_receipts", "t_outcomes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{loc.removeprefix('file:')}/{t}", ignore_errors=True)
    r = ops["explode_receipts"].fn(spark, "")
    o = ops["explode_outcomes"].fn(spark, "")
    small = TableLayout("x", (), bucket_by=("receipt_id",), sort_by=("receipt_id",), n_buckets=4)
    apply_layout(r, small, "t_receipts", as_table=True)
    apply_layout(o, small, "t_outcomes", as_table=True)
    tr = spark.table("t_receipts")
    to = spark.table("t_outcomes").select(
        "receipt_id", F.col("block_height").alias("outcome_height"), "gas_burnt"
    )
    # disable broadcast so the join must pick the shuffle family — bucketing
    # then has to eliminate the exchanges (at 100 TB both sides are far past
    # any broadcast threshold, so THIS is the plan that matters)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = tr.join(to, "receipt_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_colocated_op_plan(spark, ops):
    """The registered driver-table op must also plan its join without a
    shuffle on either side (the layout promise, paid once at write time)."""
    from pyspark.sql import functions as F

    ops["join_bucketed_colocated"].fn(spark, "/root/testdata/sf0.001").collect()
    li = spark.table("aispark_buckets.lineitem_bkt_sf0_001")
    o = spark.table("aispark_buckets.orders_bkt_sf0_001")
    j = li.hint("merge").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"


def test_dpp_runtime_pruning_in_plan(spark, ops):
    """The fact scan must carry a dynamic pruning subquery on its partition
    column (runtime partition elimination), and exactly 2 year partitions
    may survive into the result."""
    df = ops["join_dpp_partition_pruned"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    rows = df.collect()
    assert len(rows) == 2


def test_zorder_contract_flags(spark, ops):
    """Z-order construction guarantees: the price-only box skips at least
    one z-file, every z-file's price stats span at most a quarter of the
    domain, every 1-D file's custkey stats at most a sixteenth; rows
    conserved in both layouts. (The r3 claim that the 1-D layout can
    NEVER skip was distribution-dependent — killed by the fuzz sweep.)"""
    r = ops["sink_zorder_stats"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert 1 <= r["n_z_files"] <= 16
    assert r["rows_conserved"]
    assert r["zorder_prunes_price_only"]
    assert r["zorder_price_band_bounded"]
    assert r["oned_custkey_band_bounded"]


def test_schema_evolution_nullfills(spark, ops):
    """Old-generation rows must survive with a null-filled evolved column:
    per-lang docs == full table, and rows-with-quality == odd doc_ids."""
    import pyspark.sql.functions as F

    rows = ops["scan_schema_evolution"].fn(spark, "/root/testdata/sf0.001").collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    n_odd = docs.where(F.col("doc_id") % 2 == 1).count()
    assert sum(r["n_with_quality"] for r in rows) == n_odd


def test_plain_path_sort_by_is_applied_per_file(spark, ops, tmp_path):
    """Round-7 review: the non-bucketed writer path silently DROPPED
    sort_by — envelope_log's layout documents per-file height order as its
    read contract ('per-file sort keeps height order on read'), but the
    written files carried arrival order. Pin the fix: write a deliberately
    shuffled frame through a sort_by layout and assert every individual
    parquet file is internally sorted on the key."""
    import glob

    df = (
        ops["explode_outcomes"].fn(spark, "")
        .withColumn("height_bucket", (F.col("block_height") / 16).cast("long") * 16)
        .orderBy(F.reverse(F.col("receipt_id")))  # scramble height order
    )
    lay = TableLayout("t", ("height_bucket",), sort_by=("block_height",))
    out = str(tmp_path)
    apply_layout(df, lay, out)
    files = glob.glob(out + "/height_bucket=*/*.parquet")
    assert files
    checked_multi = 0
    for fn in files:
        heights = [r[0] for r in spark.read.parquet(fn).select("block_height").collect()]
        assert heights == sorted(heights), f"file not height-sorted: {fn}"
        checked_multi += len(heights) > 1
    assert checked_multi > 0, "vacuous: every file had <2 rows"
