"""Structured Streaming parity layer (SURVEY.md §2.1 S1-S5, §2.5 T1-T4, §2.4 K1-K2).

The reference's whole runtime is a streaming pipeline: an embedded node emits
height-ordered `StreamerMessage`s on a channel (borealis-indexer/src/
main.rs:1320-1323), the producer wraps/encodes/publishes each (main.rs:357-451),
and the consumer replays them from a durable JetStream with a 24 h dedup
window and explicit acks (borealis-consumer/src/main.rs:574-677).

Spark mapping (all Structured Streaming built-ins):

| reference                                   | here                               |
|---------------------------------------------|------------------------------------|
| node streamer channel (S1)                  | file-source `readStream` + schema  |
| sync-mode offset selection (S2/T3)          | `checkpointLocation` + height filter|
| backfill-vs-live gating (S3)                | `Trigger.AvailableNow` vs interval |
| durable JetStream consumer (S5/T4)          | checkpointed source, replay = new  |
|                                             | checkpoint dir (DeliverPolicy::All)|
| publish / durable log sink (K1/K2)          | `foreachBatch` append parquet sink |
| 24 h dedup window (T2)                      | `withWatermark +                   |
|                                             | dropDuplicatesWithinWatermark`     |
| strict height order (T1)                    | every sink file sorted by height   |
|                                             | (`sortWithinPartitions`) +         |
|                                             | monotonic high-watermark column    |

Scale notes (100 TB / 1000 executors): the sink writes partitioned by
`height_bucket` so replay/range scans prune; dedup state lives in the state
store (RocksDB provider on a cluster — session.CLUSTER_CONF); `foreachBatch`
sorting is per sink file (the cross-batch guarantee is the checkpoint's
monotonic offset log, same as the reference's single-threaded channel). A
global `orderBy` there would cost a range-sampling job that re-runs the
whole stateful micro-batch plan, so every batch would scan, parse and commit
its dedup state twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..scratch import scratch_dir
from ..fixtures import FIXTURE_BLOCKS, blocks_df, gen_blocks
from ..operators import fixture_oracles as FO
from ..registry import op
from ..schemas import STREAMER_SCHEMA
from ..sources.batch import load_table as lt

HEIGHT_BUCKET_BLOCKS = 100_000  # ~1 day of NEAR blocks per sink partition


def height_bucket_expr(col: str = "sequence_id", size: int = HEIGHT_BUCKET_BLOCKS):
    """The ONE bucket-id expression every sink/op shares: integer division.

    `(col / size).cast("long")` goes through a double — heights at/above
    2^53 can mis-bucket from float precision, and truncation differs from
    floor for negatives. `div` is exact over the whole BIGINT range."""
    return F.expr(f"{col} div {size}")


def write_stream_source(
    spark: SparkSession, out_dir: str, *, n_blocks: int = FIXTURE_BLOCKS, n_files: int = 6
) -> None:
    """Materialize the golden fixture as a directory of JSON files — the
    test stand-in for the node's channel (one file ≈ one channel burst)."""
    if os.path.isdir(out_dir) and any(f.endswith(".json") for f in os.listdir(out_dir)):
        return
    # not fixtures.blocks_df: the source is written once, so a frame cached
    # for the session would only stay behind in the caller's CacheManager
    spark.createDataFrame(gen_blocks(n_blocks), STREAMER_SCHEMA).repartitionByRange(
        n_files, "block.header.height"
    ).write.mode("overwrite").json(out_dir)


def shared_stream_source(
    spark: SparkSession, *, n_blocks: int = FIXTURE_BLOCKS, n_files: int = 6
) -> str:
    """The golden-fixture source dir, materialized ONCE per (process,
    n_blocks, n_files) and shared by every op that only READS it.

    The fixture is deterministic scaffolding (blocks_df is a pure function
    of n_blocks — it does not depend on the dataset under test), but r9
    re-wrote it from scratch on EVERY op call because each op's
    ``scratch_dir`` is a fresh mkdtemp: ~12 streaming/wire ops × one Spark
    JSON write job each per registry walk, all producing identical bytes.
    The streamed computation itself is untouched — only the input
    materialization is shared. Concurrency-safe within a process (write to
    a temp dir, atomic rename, losers discard); separate processes have
    separate scratch roots, so cross-process races cannot happen."""
    import shutil
    import tempfile

    from ..scratch import scratch_root

    root = scratch_root()
    d = os.path.join(root, f"stream_src_{n_blocks}x{n_files}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix="stream_src_build_", dir=root)
        write_stream_source(spark, tmp, n_blocks=n_blocks, n_files=n_files)
        try:
            os.rename(tmp, d)
        except OSError:  # lost an in-process race: d now exists
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def stream_session(spark: SparkSession) -> SparkSession:
    """The session a streaming op builds its queries on: a clone of the
    caller's, so the op writes nothing to the caller's session.

    The clone carries the caller's runtime conf, temporary views, UDFs and
    registered data sources, and the caller's streaming-query listeners
    are added to it so progress reports still reach them. A memory sink's
    view lands in the clone's catalog, not the caller's. Two ops running
    at once on one session therefore share no conf and no sink name.

    The one conf set on the clone bounds the state-store instance count.
    A stateful micro-batch pays a fixed cost PER state-store instance per
    batch (provider load, commit, snapshot bookkeeping), and the instance
    count is pinned to ``spark.sql.shuffle.partitions`` at query start.
    The local fixtures carry ≤ ~500 keys over 48 blocks — 32 instances is
    pure overhead (measured: stream_stream_join_outcomes 15 s → 5 s at
    sf0.01 going 32 → 8). Results are partition-count invariant (the
    config-invariance matrix runs the whole registry at 1 and 7 shuffle
    partitions), so this is a cost knob, not a semantic one. The bound is
    min(8, defaultParallelism); at 100 TB the operative value is
    CLUSTER_CONF's shuffle width — state partitions there are sized to
    key cardinality/throughput, and the checkpoint pins them per query
    exactly as here."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    clone.conf.set(
        "spark.sql.shuffle.partitions", str(min(8, spark.sparkContext.defaultParallelism))
    )
    streams = clone._jsparkSession.streams()
    for listener in spark._jsparkSession.streams().listListeners():
        streams.addListener(listener)
    return clone


def start_drained(writer) -> StreamingQuery:
    """Start a streaming writer and wait until it terminates (an
    availableNow query does once it has drained its source); returns the
    query handle for progress inspection."""
    q = writer.start()
    q.awaitTermination()
    return q


def drain_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Drain ``stream`` into a memory sink and return the sink's rows. The
    sink's view is registered on the session ``stream`` was built on — a
    ``stream_session`` clone — so one fixed name serves every op."""
    start_drained(
        stream.writeStream.format("memory")
        .queryName("memory_sink")
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    return stream.sparkSession.table("memory_sink")


def read_block_stream(
    spark: SparkSession, src_dir: str, *, max_files_per_trigger: int | None = 2
) -> DataFrame:
    """S1 `scan_stream`: schema-explicit streaming scan (never inferred —
    the reference's schema is fixed at compile time, SURVEY.md §1.1)."""
    reader = spark.readStream.schema(STREAMER_SCHEMA)
    if max_files_per_trigger:
        # source-side pacing: the analog of the reference's bounded reconnect
        # buffers (borealis-indexer/src/main.rs:819) — one trigger never
        # exceeds executor memory
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(src_dir)


def to_envelope_stream(blocks: DataFrame) -> DataFrame:
    """P1 on the stream: key by height, carry event-time for watermarking.

    The payload stays a JSON string here (JVM `to_json`), so the streaming
    hot path is 100% codegen. The byte-level codecs (CBOR wire form,
    compression) are batch-side, in `operators/envelope.py` (engine:
    `codecs.wire_udf`)."""
    return blocks.select(
        F.col("block.header.height").alias("sequence_id"),
        # integer `div`, not float `/`: ns values sit near 1.6e18, far above
        # 2^53, where doubles have a 256 ns ulp — the float quotient can
        # land 1 µs off the exact microsecond (the exactness rule
        # height_bucket_expr documents; the ssj oracle divides exactly)
        F.timestamp_micros(
            F.expr("block.header.timestamp div 1000")
        ).alias("event_time"),
        F.to_json(F.struct("block", "shards")).alias("payload"),
    )


def run_pipeline(
    spark: SparkSession,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    from_height: int | None = None,
    dedup: bool = True,
    available_now: bool = True,
) -> StreamingQuery:
    """The end-to-end producer+consumer pipeline, batch-backfill mode.
    Returns the drained query, for its progress reports.

    - S2 `scan_from_offset`: ``from_height`` filters the replay start
      (sync-mode BlockHeight, configs.rs:139-159); resuming with the same
      ``checkpoint_dir`` is sync-mode FromInterruption.
    - T2 `dedup_window`: drop duplicate heights within a 24 h watermark
      (JetStream `duplicate_window: 86400`, consumer main.rs:578).
    - T1 `order_by_height`: every sink file is sorted by height; the sink
      carries `height_bucket` for partition-pruned replay.
    - S3 `scan_backfill_mode`: ``available_now`` drains the backlog then
      stops (WaitForFullSync); False would run live micro-batches.
    """
    env = to_envelope_stream(read_block_stream(stream_session(spark), src_dir))
    if from_height is not None:
        env = env.filter(F.col("sequence_id") >= from_height)
    if dedup:
        # dropDuplicatesWithinWatermark, NOT plain dropDuplicates: with the
        # event-time column absent from the subset, plain dropDuplicates
        # never lets the watermark evict dedup state — one entry per
        # sequence_id forever, a state-store blowup on a long-lived stream
        # — and it suppresses a duplicate arriving after 24 h, where
        # JetStream's duplicate_window (the contract this mirrors,
        # consumer main.rs:578) would re-deliver it. The within-watermark
        # variant is exactly the bounded dedup window.
        env = env.withWatermark(
            "event_time", "24 hours"
        ).dropDuplicatesWithinWatermark(["sequence_id"])

    def sink(batch: DataFrame, batch_id: int) -> None:  # K1/K2
        write_batch_idempotent(batch, batch_id, sink_dir)

    writer = (
        env.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return start_drained(writer)


def write_batch_idempotent(batch: DataFrame, batch_id: int, sink_dir: str) -> None:
    """Exactly-once micro-batch write, not just at-least-once: partition by
    (batch_id, height_bucket) and dynamically OVERWRITE — a retried
    micro-batch replaces exactly its own partitions instead of appending
    duplicates. Checkpointed offsets + an idempotent sink is the Spark form
    of the reference's ack-plus-dedup-window pair (consumer
    main.rs:578,588); here duplicates cannot be written in the first place.
    height_bucket stays the second partition level, so replay/range scans
    still prune by height."""
    (
        batch.withColumn("height_bucket", height_bucket_expr())
        .withColumn("batch_id", F.lit(batch_id))
        # leading with the partition column meets the writer's required
        # ordering; a sort on sequence_id alone is dropped under the
        # writer's own height_bucket sort, leaving files unsorted
        .sortWithinPartitions("height_bucket", "sequence_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "height_bucket")
        .parquet(sink_dir)
    )


# ---------------------------------------------------------------------------
# registered ops


@op("scan_stream", tags=("parity", "streaming"), oracle=FO.scan_stream_oracle)
def scan_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+T1+T2+K2 end-to-end: fixture JSON stream → envelope →
    watermarked dedup → ordered, height-bucketed durable parquet sink
    (AvailableNow backfill), then read the durable table back. The oracle
    re-derives every payload's exact JSON char count from the fixture dicts
    via the full-schema to_json mirror (fixture_oracles._spark_json)."""

    base = scratch_dir(prefix="aispark_stream_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt)
    out = spark.read.parquet(sink_d)
    return out.select(
        "sequence_id", "height_bucket", F.length("payload").alias("payload_chars")
    )


@op("scan_durable", tags=("parity", "streaming"), oracle=FO.durable_consumer_oracle)
def scan_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+T4 `replay_all`: run the pipeline once (durable consumer), then a
    SECOND run with a fresh checkpoint on the same source — DeliverPolicy::All
    instant replay (consumer main.rs:640-648). Emits one row per height with
    replay counts; `replayed_ok` proves the durable log re-delivered all."""

    base = scratch_dir(prefix="aispark_replay_")
    src = shared_stream_source(spark)
    s1, c1 = os.path.join(base, "sink1"), os.path.join(base, "ck1")
    s2, c2 = os.path.join(base, "sink2"), os.path.join(base, "ck2")
    run_pipeline(spark, src, s1, c1)
    run_pipeline(spark, src, s2, c2)  # fresh durable name => full replay
    a = spark.read.parquet(s1).select("sequence_id")
    b = spark.read.parquet(s2).select("sequence_id")
    return (
        a.groupBy("sequence_id")
        .count()
        .withColumnRenamed("count", "n_first")
        .join(b.groupBy("sequence_id").count().withColumnRenamed("count", "n_replay"), "sequence_id")
        .select(
            "sequence_id",
            "n_first",
            "n_replay",
            (F.col("n_first") == F.col("n_replay")).alias("replayed_ok"),
        )
    )


@op("dedup_window", tags=("parity", "streaming"), oracle=FO.dedup_window_oracle)
def dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: planted duplicate heights are suppressed by the watermarked
    dropDuplicates — output has exactly one row per height (JetStream
    duplicate_window semantics, consumer main.rs:578)."""

    base = scratch_dir(prefix="aispark_dedup_")
    src, sink_d, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    # source with every block written TWICE (duplicate delivery)
    df = blocks_df(spark, 32)
    df.unionAll(df).repartitionByRange(4, "block.header.height").write.mode(
        "overwrite"
    ).json(src)
    run_pipeline(spark, src, sink_d, ckpt, dedup=True)
    out = spark.read.parquet(sink_d)
    return (
        out.groupBy("sequence_id")
        .count()
        .select("sequence_id", F.col("count").alias("n_after_dedup"))
    )


@op(
    "window_time_stream_complete",
    tags=("parity", "streaming", "window"),
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
)
def window_time_stream_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation over the events table in
    complete mode: the final emitted state equals the batch GROUP BY, so the
    op is fully oracle-checkable — the streaming/batch unification Spark
    gives for free (and the reference's consumers must hand-build).

    Scale: partial aggregation happens map-side per micro-batch; state is
    one row per (hour, type) in the state store."""
    events = lt(spark, sf_dir, "events")
    src = scratch_dir(prefix="aispark_ev_src_")
    events.write.mode("overwrite").parquet(src)

    stream = stream_session(spark).readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 8
    ).parquet(src)
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    return drain_to_memory(agg, "complete")


from ..sources.batch import TABLES as _TABLES

_HEALTH_ORACLE = f"""
SELECT table_name,
       CAST(COUNT(*) AS INTEGER) AS n_columns,
       TRUE AS readable
FROM information_schema.columns
WHERE table_name IN ({", ".join("'" + t + "'" for t in _TABLES)})
GROUP BY table_name
"""


@op("health_check", tags=("parity",), oracle=_HEALTH_ORACLE)
def health_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 `check`: end-to-end probe — session alive, catalog reachable,
    one-row scan of each table succeeds; reports engine vitals the way the
    reference's check subcommand reports rtt/ip/max-payload
    (borealis-indexer/src/main.rs:1054-1071). The oracle asks DuckDB's
    information_schema the same question about the same registered views —
    both engines must agree on every table's column count."""
    rows = []
    for t in _TABLES:
        n_cols = len(lt(spark, sf_dir, t).columns)
        rows.append((t, n_cols, True))
    return spark.createDataFrame(
        rows, "table_name string, n_columns int, readable boolean"
    ).orderBy("table_name")


@op(
    "stream_stream_join_outcomes",
    tags=("parity", "streaming", "join"),
    oracle=FO.ssj_oracle,
)
def stream_stream_join_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: the tx→outcome correlation (the reference's one
    non-trivial cross-record semantic, borealis-indexer/src/main.rs:121-125)
    joined LIVE — a receipts stream against an execution-outcomes stream on
    receipt_id, with event-time watermarks bounding the join state (outcomes
    arrive ≤30s after their receipt in fixture time; state for older
    receipts is evicted). At 100 TB this is the canonical enrichment join:
    state is keyed by receipt_id, sharded with the shuffle, bounded by the
    watermark horizon instead of growing forever."""
    src = shared_stream_source(spark)
    session = stream_session(spark)

    def block_stream() -> DataFrame:
        return read_block_stream(session, src).withColumn(
            "event_time",
            F.timestamp_micros(
                (F.col("block.header.timestamp") / F.lit(1000)).cast("long")
            ),
        )

    receipts = (
        block_stream()
        .select(
            F.col("block.header.height").alias("rcpt_height"),
            F.col("event_time").alias("rcpt_time"),
            F.explode("shards").alias("shard"),
        )
        .select(
            "rcpt_height",
            "rcpt_time",
            F.explode("shard.chunk.receipts").alias("r"),
        )
        .select(
            "rcpt_height",
            "rcpt_time",
            F.col("r.receipt_id").alias("receipt_id"),
            F.col("r.receiver_id").alias("receiver_id"),
        )
        .withWatermark("rcpt_time", "1 minute")
    )
    outcomes = (
        block_stream()
        .select(
            F.col("block.header.height").alias("out_height"),
            F.col("event_time").alias("out_time"),
            F.explode("shards").alias("shard"),
        )
        .select(
            "out_height",
            "out_time",
            F.explode("shard.receipt_execution_outcomes").alias("o"),
        )
        .select(
            "out_height",
            "out_time",
            F.col("o.execution_outcome.id").alias("receipt_id"),
            F.col("o.execution_outcome.outcome.gas_burnt").alias("gas_burnt"),
        )
        .withWatermark("out_time", "1 minute")
    )
    joined = receipts.join(
        outcomes,
        (receipts.receipt_id == outcomes.receipt_id)
        & (outcomes.out_time >= receipts.rcpt_time)
        & (outcomes.out_time <= receipts.rcpt_time + F.expr("INTERVAL 30 SECONDS")),
        "inner",
    ).select(
        receipts.receipt_id,
        "rcpt_height",
        "out_height",
        "receiver_id",
        "gas_burnt",
        (F.col("out_height") - F.col("rcpt_height")).alias("lag_blocks"),
    )
    return drain_to_memory(joined, "append")


@op("sink_retention", tags=("parity", "sink", "streaming"), oracle=FO.retention_oracle)
def sink_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 retention-by-limits + DiscardPolicy::Old (consumer main.rs:576-579):
    the durable log keeps only the newest N height-buckets; older bucket
    directories are dropped wholesale — a partition-metadata operation (no
    row rewrite), which is why the sink partitions by height_bucket in the
    first place. Emits the per-bucket state after enforcement."""
    import shutil

    base = scratch_dir(prefix="aispark_retain_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    # bucket every 16 blocks so the 48-block fixture yields 3 buckets
    env = to_envelope_stream(read_block_stream(stream_session(spark), src))

    def sink(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("height_bucket", height_bucket_expr(size=16) * 16)
            .sortWithinPartitions("height_bucket", "sequence_id")
            .write.mode("append")
            .partitionBy("height_bucket")
            .parquet(sink_d)
        )

    start_drained(
        env.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )

    keep_newest = 2
    buckets = sorted(
        int(d.split("=")[1])
        for d in os.listdir(sink_d)
        if d.startswith("height_bucket=")
    )
    for old in buckets[:-keep_newest]:  # discard-old, limits-based
        shutil.rmtree(os.path.join(sink_d, f"height_bucket={old}"))

    kept = spark.read.parquet(sink_d)
    return (
        kept.groupBy("height_bucket")
        .agg(
            F.count("*").alias("n_messages"),
            F.min("sequence_id").alias("first_height"),
            F.max("sequence_id").alias("last_height"),
        )
    )


@op(
    "sink_compaction",
    tags=("parity", "sink", "streaming"),
    oracle=FO.compaction_oracle,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-log maintenance: streaming appends leave one small file per
    micro-batch per bucket; compaction rewrites each bucket into one file
    sorted by sequence_id (read-side ordering becomes free). At 100 TB this
    runs per-bucket as closed buckets stop receiving appends — the Spark
    analog of JetStream's file-store compaction. Emits the per-bucket
    contract: row conservation, intact height range, one file per bucket
    (raw before/after file counts vary with trigger pacing, so the CHECKED
    surface is the invariants, derived independently by the oracle)."""

    base = scratch_dir(prefix="aispark_compact_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt)

    def parquet_files(d: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(d):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return out

    rows_before = spark.read.parquet(sink_d).count()
    compacted = os.path.join(base, "compacted")
    (
        spark.read.parquet(sink_d)
        .repartition(1, "height_bucket")
        .sortWithinPartitions("sequence_id")
        .write.mode("overwrite")
        .partitionBy("height_bucket")
        .parquet(compacted)
    )
    out = spark.read.parquet(compacted)
    rows_after = out.count()
    bucket_dirs = [
        os.path.join(compacted, d)
        for d in os.listdir(compacted)
        if d.startswith("height_bucket=")
    ]
    one_file_each = all(len(parquet_files(d)) == 1 for d in bucket_dirs)
    return out.groupBy("height_bucket").agg(
        F.count("*").alias("n_messages"),
        F.min("sequence_id").alias("first_height"),
        F.max("sequence_id").alias("last_height"),
        F.lit(rows_before == rows_after).alias("rows_conserved"),
        F.lit(one_file_each).alias("one_file_per_bucket"),
    )


_SESSION_GAP = "30 minutes"
_SENTINEL_USER = -9999

# Watermark clock for the stateful event-time ops: a tz-free instant
# (NTZ-as-UTC field arithmetic — see window_session_stream's DST rationale)
# SHIFTED forward by a fixed 1,000,000 whole days (~2700 years). The shift
# exists because Spark initializes the event-time watermark to epoch 0, so
# any PRE-1970 event time is born-late and silently dropped in the first
# micro-batch (fuzz timewarp profile: an event stream crossing epoch zero
# lost every pre-epoch row in window_session_stream and
# stream_late_data_policy). A uniform whole-day translation preserves
# every gap, ordering, and hour/day bucket boundary — session windows and
# tumbling windows are translation-invariant under whole-period shifts —
# while output values stay on the original NTZ ts, so results are
# identical for positive-epoch data and CORRECT (not silently truncated)
# for junk pre-epoch timestamps back to ~700 BC. Beyond that the platform
# boundary stands: Spark's watermark clock is nonnegative.
_EVT_SHIFT_US = 86_400_000_000 * 1_000_000
_EVT_WM = (
    "timestamp_micros(CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)*86400000000"
    " + CAST(extract(HOUR FROM ts) AS BIGINT)*3600000000"
    " + CAST(extract(MINUTE FROM ts) AS BIGINT)*60000000"
    " + CAST(extract(SECOND FROM ts)*1000000 AS BIGINT)"
    f" + {_EVT_SHIFT_US})"
)


@op(
    "window_session_stream",
    tags=("parity", "streaming", "window"),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM ordered
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_no
""",
)
def window_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: `session_window(ts, 30 min)` per user with a
    0-second watermark, append-mode parquet sink. Sessions merge in the state
    store across micro-batches and emit exactly once, when the watermark
    passes their close — the stateful twin of `window_session_user`.

    Spark's session windows are half-open `[start, last+gap)`, so an event
    exactly `gap` after its predecessor opens a NEW session; the oracle's
    gaps-and-islands therefore breaks on `>= gap` (the batch op uses `>`,
    matching its own window-function definition — both are exact, they are
    different session semantics).

    Append mode only emits a window after the watermark passes it, so the
    LAST session per user would stay in state forever on a finite input. The
    flush is a far-future sentinel event processed in a second AvailableNow
    run on the same checkpoint: its event time advances the watermark past
    every real session. At 100 TB the stream is infinite and the sentinel is
    unnecessary — state size stays O(open sessions), keyed and sharded by
    user like every stateful op here.

    Watermarks demand TIMESTAMP, but the events table is TIMESTAMP_NTZ and a
    plain cast goes through the session time zone (DST gaps corrupt values —
    NTZ 02:30 inside a spring-forward hole casts to 03:30). The stream
    therefore carries a derived instant column `evt` built by tz-free field
    arithmetic (unix_date + hour/min/sec micros == NTZ-as-UTC), shifted
    +1e6 whole days (`_EVT_WM`) so pre-epoch event times survive Spark's
    epoch-0 initial watermark; aggregates stay on the original NTZ `ts`,
    so output values never pass through any time zone at all.
    """

    base = scratch_dir(prefix="aispark_sess_")
    src, sink_d, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    _EVT = _EVT_WM  # shifted watermark clock — see the module constant
    events = lt(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.expr(_EVT).alias("evt")
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    session = stream_session(spark)

    def run_once() -> None:
        stream = session.readStream.schema(events.schema).parquet(src)
        agg = (
            stream.withWatermark("evt", "0 seconds")
            .groupBy(F.session_window("evt", _SESSION_GAP).alias("w"), "user_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
        )
        start_drained(
            agg.writeStream.format("parquet")
            .option("path", sink_d)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
        )

    run_once()  # drains the real events; last-open sessions remain in state
    sentinel = (
        events.orderBy(F.col("ts").desc())
        .limit(1)
        .select(
            F.lit(_SENTINEL_USER).cast("long").alias("user_id"),
            (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("event_id"),
        )
        .select("user_id", "ts", "event_id", F.expr(_EVT).alias("evt"))
    )
    sentinel.write.mode("append").parquet(src)
    run_once()  # watermark jumps past every real session -> all emit

    from pyspark.sql import Window as W

    out = spark.read.parquet(sink_d).filter(F.col("user_id") != _SENTINEL_USER)
    sess_no = F.row_number().over(
        W.partitionBy("user_id").orderBy("session_start")
    )
    return out.select(
        "user_id",
        sess_no.cast("long").alias("session_no"),
        "session_start",
        "session_end",
        "n_events",
    )


_LATE_ORACLE = """
WITH m AS (SELECT MAX(ts) AS mx FROM events),
agg AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(h AS TIMESTAMP) AS hour_start, event_type,
       CAST(n AS BIGINT) AS n_events
FROM agg CROSS JOIN m
WHERE h + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
UNION ALL
SELECT TIMESTAMP '1900-01-01 00:00:00', '__dropped_late__',
       (SELECT COUNT(*) FROM events WHERE event_id % 97 = 0)
"""


@op(
    "stream_late_data_policy",
    tags=("parity", "streaming", "window", "watermark"),
    oracle=_LATE_ORACLE,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting in APPEND mode — the semantic that
    separates a streaming engine from a batch loop, demonstrated across a
    RESTART so the watermark provably lives in the checkpoint: run 1
    ingests the whole on-time stream (advancing the watermark to
    max(ts) - 1h and emitting every window whose end the watermark
    passed); run 2 resumes from the same checkpoint and receives a planted
    replay of every 97th event shifted 365 days into the past — all below
    the persisted watermark, so the state store DROPS them (observed via
    numRowsDroppedByWatermark, emitted as the '__dropped_late__' sentinel)
    instead of resurrecting finalized windows. The last hour's windows are
    still open and correctly absent from the sink.

    The oracle restates both halves closed-form: finalized windows are the
    batch GROUP BY restricted to window_end <= max(ts) - 1h, and the drop
    count is the planted-row count — the hash check pins the exact
    emit-and-drop frontier, not just "some rows were dropped".

    Scale: state is one row per open (hour, type); a dropped-late row
    costs a filter, not a state write; the watermark delay is the knob
    trading completeness against state size, and this op is the audit
    that the trade is enforced — across job restarts, which is where
    hand-built batch loops silently regress."""
    # tz-free instant column (NTZ-as-UTC) for the watermark clock, shifted
    # +1e6 days (see _EVT_WM — Spark's watermark starts at epoch 0, which
    # would born-late-drop pre-epoch events); all OUTPUT values stay on
    # the original NTZ ts (see window_session_stream's DST rationale).
    _EVT = _EVT_WM
    events = lt(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", F.expr(_EVT).alias("evt")
    )
    base = scratch_dir(prefix="aispark_late_")
    src, sink_d, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    events.coalesce(1).write.mode("append").parquet(src)
    session = stream_session(spark)

    def run_once():
        stream = session.readStream.schema(events.schema).parquet(src)
        agg = (
            stream.withWatermark("evt", "1 hour")
            .groupBy(F.window("evt", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(F.date_trunc("hour", "ts")).cast("timestamp_ntz").alias("h"),
            )
            .select(F.col("h").alias("hour_start"), "event_type", "n_events")
        )
        return start_drained(
            agg.writeStream.format("parquet")
            .option("path", sink_d)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
        )

    run_once()  # on-time pass: watermark reaches max(evt) - 1h, persisted
    # Each planted row gets its OWN far-past hour bucket (1900-01-01 +
    # event_id/97 hours — event_id%97==0 makes the quotient unique), so
    # dropped GROUPS == dropped ROWS: numRowsDroppedByWatermark counts
    # rows reaching the state operator AFTER partial aggregation, and a
    # 365-day uniform shift let planted rows collide into shared
    # (hour, type) groups once the corpus was dense enough (sf0.1: 1031
    # rows -> 971 groups; caught by the r4 cross-sf sweep). Group-unique
    # planting pins metric == planted count at every scale factor.
    # planted in the same shifted watermark domain as _EVT_WM (1900-01-01
    # + the uniform shift — still decades below the persisted watermark)
    late_evt = F.expr(
        "timestamp_micros(CAST(-2208988800000000 AS BIGINT)"  # 1900-01-01 UTC
        f" + {_EVT_SHIFT_US}"
        " + (event_id div 97) * 3600000000)"
    )
    late = events.where(F.col("event_id") % 97 == 0).select(
        "event_id",
        late_evt.cast("timestamp_ntz").alias("ts"),
        "event_type",
        late_evt.alias("evt"),
    )
    late.coalesce(1).write.mode("append").parquet(src)
    q2 = run_once()  # resumed pass: every planted row is below the watermark

    dropped = sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in q2.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    sentinel = spark.createDataFrame(
        [("1900-01-01 00:00:00", "__dropped_late__", dropped)],
        "hour_start string, event_type string, n_events long",
    ).select(
        F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n_events",
    )
    return spark.read.parquet(sink_d).unionByName(sentinel)
