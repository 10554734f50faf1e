"""CDC-style streaming upsert: maintain latest-row-per-key state from an
ordered stream of change batches.

Reference parity: the reference's durable consumer applies each block's
state changes to downstream stores in arrival order
(borealis-consumer/src/main.rs event loop); this is the same "apply the
newest version of each key" contract expressed as Structured Streaming +
foreachBatch — the standard upsert pattern when no log-structured table
format (Delta/Iceberg) is available.

Scale design: state is hash-bucket-partitioned on the business key, and
each micro-batch rewrites ONLY the buckets it touches via dynamic
partition overwrite — a batch touching 1% of keys rewrites ~1% of state,
not all of it. The merge itself is idempotent (argmax by a total version
order), so foreachBatch's at-least-once replays converge to the same
state, giving effectively-exactly-once output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..registry import op
from ..sources.batch import load_table as lt
from .harness import split_into_batches
from .pipeline import start_drained, stream_session

N_STATE_BUCKETS = 8  # 1000+ on a real cluster: the unit of state rewrite


def _latest_per_key(df: DataFrame) -> DataFrame:
    """Argmax row per o_custkey under the total order (o_orderdate,
    o_orderkey): one struct-MAX aggregate — no window, no sort. The struct
    comparison is lexicographic and (date, orderkey) is unique, so the
    trailing payload field can never decide a tie."""
    return (
        df.groupBy("o_custkey", "bucket")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_totalprice")
            ).alias("s")
        )
        .select(
            "o_custkey",
            "bucket",
            F.col("s.o_orderdate").alias("last_orderdate"),
            F.col("s.o_orderkey").alias("last_orderkey"),
            F.col("s.o_totalprice").alias("last_totalprice"),
        )
    )


def apply_batch(state: str, batch: DataFrame) -> None:
    """Fold one change batch into the bucket-partitioned state at `state`:
    read only the touched buckets, argmax-merge, dynamic-partition
    overwrite those buckets. Module-level (not a closure) so the replay /
    out-of-order convergence properties the foreachBatch contract relies
    on are directly testable — the stream calls exactly this function."""
    incoming = _latest_per_key(batch)
    touched = [r["bucket"] for r in incoming.select("bucket").distinct().collect()]
    sp = batch.sparkSession
    if os.path.isdir(state):  # single-filesystem check; on object
        # storage this would be a state-manifest existence probe
        old = sp.read.parquet(state).filter(F.col("bucket").isin(touched))
        old = old.select(*incoming.columns)
    else:  # first batch: no state yet
        old = sp.createDataFrame([], incoming.schema)
    merged = _latest_per_key(
        old.unionByName(incoming)
        .select(
            "o_custkey",
            "bucket",
            F.col("last_orderdate").alias("o_orderdate"),
            F.col("last_orderkey").alias("o_orderkey"),
            F.col("last_totalprice").alias("o_totalprice"),
        )
    )
    # lineage reads the same path we overwrite — truncate it first so
    # Spark's self-overwrite guard doesn't (rightly) reject the write
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(state)
    )


def run_cdc_upsert(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Drive the upsert: orders split into 4 chronological change files,
    streamed one file per micro-batch (availableNow + maxFilesPerTrigger),
    merged into bucket-partitioned state by foreachBatch. Returns the final
    state and the number of micro-batches that ran."""
    base = scratch_dir(prefix="aispark_cdc_")
    src, state = os.path.join(base, "src"), os.path.join(base, "state")

    orders = lt(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    # four change batches cut at o_orderkey quartiles (NOT order date; no
    # mtime stamping — unlike stream_stateful_cep's order-dependent NFA):
    # the argmax merge below is ORDER-INDEPENDENT by construction, which
    # is exactly what the replay/reversed-fold convergence tests prove
    orders = orders.withColumn(
        "bucket", F.pmod(F.xxhash64("o_custkey"), F.lit(N_STATE_BUCKETS))
    )
    split_into_batches(orders, "o_orderkey", src)

    merged_schema = orders.schema

    def upsert(batch: DataFrame, batch_id: int) -> None:
        apply_batch(state, batch)

    q = start_drained(
        stream_session(spark)
        .readStream.schema(merged_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    out = spark.read.parquet(state).select(
        "o_custkey", "last_orderdate", "last_orderkey", "last_totalprice"
    )
    return out, n_batches


_CDC_ORACLE = """
SELECT o_custkey,
       o_orderdate  AS last_orderdate,
       o_orderkey   AS last_orderkey,
       o_totalprice AS last_totalprice
FROM orders
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


@op("stream_cdc_upsert", tags=("streaming", "cdc", "sink"), oracle=_CDC_ORACLE)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version-per-key state maintained incrementally from a change
    stream (CDC upsert). Orders arrive as four chronological change files;
    each micro-batch folds its rows into bucket-partitioned state,
    rewriting only touched buckets (dynamic partition overwrite). The
    merge is an idempotent argmax under the (o_orderdate, o_orderkey)
    total order, so batch replays converge — effectively exactly-once.
    The oracle is the batch QUALIFY row_number()=1 over the full table:
    incremental folding must equal the one-shot answer exactly.
    """
    out, _ = run_cdc_upsert(spark, sf_dir)
    return out
