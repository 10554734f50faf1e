"""Streaming-semantics tests (SURVEY.md §5.4): checkpoint resume (T3),
replay-all (T4), dedup window (T2), per-batch ordering (T1), offset
selection (S2) — on file-based streaming sources, as the driver harness
cannot exercise multi-run streaming state through `queries()`.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from australis_indexer_spark.fixtures import blocks_df
from australis_indexer_spark.streaming.pipeline import (
    run_pipeline,
    write_stream_source,
)

START = 63_596  # fixture start height


@pytest.fixture()
def dirs(tmp_path):
    return {d: os.path.join(tmp_path, d) for d in ("src", "sink", "ckpt")}


def test_checkpoint_resume_no_reprocess(spark, dirs):
    """T3 FromInterruption: feed half the files, run; add the rest, resume
    with the SAME checkpoint — every height lands exactly once."""
    a = blocks_df(spark, 24)
    b = blocks_df(spark, 48).filter(F.col("block.header.height") >= START + 24)
    a.coalesce(2).write.mode("overwrite").json(dirs["src"])
    run_pipeline(spark, dirs["src"], dirs["sink"], dirs["ckpt"])
    n_first = spark.read.parquet(dirs["sink"]).count()
    assert n_first == 24

    b.coalesce(2).write.mode("append").json(dirs["src"])
    run_pipeline(spark, dirs["src"], dirs["sink"], dirs["ckpt"])
    out = spark.read.parquet(dirs["sink"])
    assert out.count() == 48  # resumed, not reprocessed
    per_height = out.groupBy("sequence_id").count().filter("count > 1").count()
    assert per_height == 0


def test_scan_from_offset_height(spark, dirs):
    """S2 sync-mode BlockHeight: replay starts at an explicit height."""
    write_stream_source(spark, dirs["src"])
    run_pipeline(
        spark, dirs["src"], dirs["sink"], dirs["ckpt"], from_height=START + 10
    )
    out = spark.read.parquet(dirs["sink"])
    assert out.agg(F.min("sequence_id")).first()[0] == START + 10
    assert out.count() == 38


def test_dedup_window_suppresses_duplicates(spark, dirs):
    """T2: duplicate deliveries of the same height are dropped."""
    df = blocks_df(spark, 16)
    df.unionAll(df).coalesce(3).write.mode("overwrite").json(dirs["src"])
    run_pipeline(spark, dirs["src"], dirs["sink"], dirs["ckpt"], dedup=True)
    out = spark.read.parquet(dirs["sink"])
    assert out.count() == 16
    assert out.select("sequence_id").distinct().count() == 16


def test_sink_is_height_bucketed_and_ordered(spark, dirs):
    """T1/K1/K2: sink partitions carry height buckets (partition-pruned
    replay), heights are contiguous/complete, and every sink file holds
    non-decreasing heights. The sink sorts within each file, so no
    range-sampling job re-runs the stateful micro-batch plan: dedup state
    counts each height once (a global orderBy reported twice the rows)."""
    import glob

    import pyarrow.parquet as pq

    write_stream_source(spark, dirs["src"])  # 6 files, 2 per micro-batch
    q = run_pipeline(spark, dirs["src"], dirs["sink"], dirs["ckpt"])
    state_rows = [
        p.stateOperators[0].numRowsTotal for p in q.recentProgress if p.numInputRows
    ]
    assert state_rows == [16, 32, 48]
    out = spark.read.parquet(dirs["sink"])
    heights = sorted(r[0] for r in out.select("sequence_id").collect())
    assert heights == list(range(START, START + 48))
    assert "height_bucket" in out.columns
    # replay of one bucket prunes the file listing to that bucket only
    pruned = out.filter(F.col("height_bucket") == heights[0] // 100_000)
    assert pruned.count() == 48  # all fixture heights share one bucket
    files = glob.glob(os.path.join(dirs["sink"], "**", "*.parquet"), recursive=True)
    assert files
    for f in files:
        in_file = pq.read_table(f, columns=["sequence_id"]).column(0).to_pylist()
        assert in_file == sorted(in_file), f


def test_streaming_complete_mode_equals_batch(spark, ops):
    """The oracle property used by window_time_stream_complete: streaming
    complete-mode aggregation == batch aggregation on the same data."""
    sf = "/root/testdata/sf0.001"
    stream_rows = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in ops["window_time_stream_complete"].fn(spark, sf).collect()
    }
    from australis_indexer_spark.sources.batch import load_table

    batch_rows = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in load_table(spark, sf, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert stream_rows == batch_rows


def test_stateful_gap_tracker_contiguous(spark, ops):
    """State persists across micro-batches: every height bucket of the
    gap-free fixture must report contiguous=True with correct counts."""
    rows = ops["stream_stateful_gap_tracker"].fn(spark, "").collect()
    assert rows
    assert all(r["contiguous"] for r in rows)
    assert sum(r["n_seen"] for r in rows) == 48


def test_stateful_running_totals_match_batch(spark, ops):
    """The custom stateful op's final state == batch GROUP BY."""
    from pyspark.sql import functions as F
    from australis_indexer_spark.functions.det import dsum
    from australis_indexer_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in ops["stream_stateful_running_totals"].fn(spark, sf).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, ops):
    """Stream-stream tx→outcome join == the batch as-of join on the same
    fixture: every execution outcome pairs with its receipt exactly once,
    one block later."""
    rows = ops["stream_stream_join_outcomes"].fn(spark, "").collect()
    assert rows
    assert all(r["lag_blocks"] == 1 for r in rows)
    # batch truth: count of outcomes that have a matching receipt
    batch_receipts = ops["explode_receipts"].fn(spark, "").select("receipt_id")
    batch_outcomes = ops["explode_outcomes"].fn(spark, "").select("receipt_id")
    want = batch_receipts.join(batch_outcomes, "receipt_id").count()
    assert len(rows) == want
    assert len({r["receipt_id"] for r in rows}) == len(rows)


def test_live_microbatch_mode_ingests_new_files(spark, dirs):
    """S3 StreamWhileSyncing (live mode, available_now=False): a running
    micro-batch query picks up files that arrive AFTER it starts — the
    backfill-while-live behavior — and stops cleanly. Uses a short
    processingTime trigger and polls the sink instead of draining."""
    import threading
    import time

    from australis_indexer_spark.streaming.pipeline import (
        read_block_stream,
        to_envelope_stream,
    )

    write_stream_source(spark, dirs["src"], n_blocks=12, n_files=3)
    env = to_envelope_stream(read_block_stream(spark, dirs["src"], max_files_per_trigger=1))

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(dirs["sink"])

    q = (
        env.writeStream.foreachBatch(sink)
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # wait until the initial backlog (12 blocks over 3 files) lands
        def rows():
            try:
                return spark.read.parquet(dirs["sink"]).count()
            except Exception:
                return 0

        deadline = time.time() + 60
        while rows() < 12 and time.time() < deadline:
            time.sleep(0.3)
        assert rows() == 12, "initial backlog not drained in live mode"

        # a NEW file arriving while the query runs must be ingested too
        late = blocks_df(spark, 16).filter(
            F.col("block.header.height") >= START + 12
        )
        late.coalesce(1).write.mode("append").json(dirs["src"])
        deadline = time.time() + 60
        while rows() < 16 and time.time() < deadline:
            time.sleep(0.3)
        assert rows() == 16, "late-arriving file not picked up by live query"
    finally:
        q.stop()
        q.awaitTermination(30)
    # all 16 heights exactly once, in order
    seqs = [
        r["sequence_id"]
        for r in spark.read.parquet(dirs["sink"]).orderBy("sequence_id").collect()
    ]
    assert seqs == list(range(START, START + 16))


def test_sink_write_is_idempotent_under_batch_retry(spark, dirs):
    """K1 exactly-once: re-delivering the SAME micro-batch (a task/epoch
    retry) must leave the sink unchanged — the dynamic-overwrite sink
    replaces its own partitions instead of appending duplicates."""
    from australis_indexer_spark.streaming.pipeline import (
        to_envelope_stream,
        write_batch_idempotent,
    )

    env = to_envelope_stream(blocks_df(spark, 12))
    write_batch_idempotent(env, 0, dirs["sink"])
    first = spark.read.parquet(dirs["sink"]).count()
    # the retry: same data, same batch_id
    write_batch_idempotent(env, 0, dirs["sink"])
    again = spark.read.parquet(dirs["sink"])
    assert again.count() == first == 12
    # a NEW batch still appends (only its own partitions are replaced)
    late = to_envelope_stream(blocks_df(spark, 16)).filter(
        F.col("sequence_id") >= START + 12
    )
    write_batch_idempotent(late, 1, dirs["sink"])
    assert spark.read.parquet(dirs["sink"]).count() == 16


def test_window_session_stream_matches_batch(spark, ops):
    """The streaming sessionizer must emit exactly the sessions the batch
    gaps-and-islands computation produces (>= gap semantics, half-open
    session windows) — including the LAST session per user, which only
    flushes via the sentinel watermark advance."""
    sf = "/root/testdata/sf0.001"
    got = ops["window_session_stream"].fn(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")  # raw read is fine: no ts math below
    n_events = ev.count()
    agg = got.agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("tot")
    ).first()
    assert agg.tot == n_events, "every event must land in exactly one session"
    # sessions per user == 1 + number of >=30min gaps, checked on one user
    from australis_indexer_spark.sources.batch import load_table

    e = load_table(spark, sf, "events")
    one = e.groupBy("user_id").count().orderBy(F.desc("count")).first().user_id
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.filter(F.col("user_id") == one)
        .withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .filter(F.col("ts") - F.col("prev") >= F.expr("INTERVAL 30 MINUTE"))
        .count()
    )
    assert got.filter(F.col("user_id") == one).count() == gaps + 1


def test_cdc_upsert_is_incremental_and_converges(spark):
    """The upsert must actually run multiple micro-batches (one per change
    file), and the folded state must equal the one-shot batch argmax."""
    from australis_indexer_spark.streaming.cdc import run_cdc_upsert

    sf = "/root/testdata/sf0.001"
    out, n_batches = run_cdc_upsert(spark, sf)
    assert n_batches >= 2, "stream collapsed into a single micro-batch"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    expect = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("last_orderdate"),
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_totalprice").alias("last_totalprice"),
        )
    )
    assert out.count() == expect.count()
    assert out.exceptAll(expect).count() == 0
    assert expect.exceptAll(out).count() == 0


def test_incremental_rollup_equals_batch(spark):
    """Four incremental folds must equal the one-shot rollup exactly, and
    the stream must genuinely run multiple micro-batches."""
    from australis_indexer_spark.functions.det import cents
    from australis_indexer_spark.sources.batch import load_table
    from australis_indexer_spark.streaming.rollup import run_incremental_rollup

    sf = "/root/testdata/sf0.001"
    out, n_batches = run_incremental_rollup(spark, sf)
    assert n_batches >= 2
    ev = load_table(spark, sf, "events")
    expect = ev.groupBy(
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents("value")).alias("total_cents"),
    )
    assert out.count() == expect.count()
    assert out.exceptAll(expect).count() == 0
    assert expect.exceptAll(out).count() == 0


def test_late_data_dropped_and_frontier(spark, ops):
    """The sentinel must count exactly the planted late rows; no window
    from the shifted year may appear; open (last-hour) windows are absent."""
    import pyspark.sql.functions as F
    from australis_indexer_spark.sources.batch import load_table

    rows = ops["stream_late_data_policy"].fn(spark, "/root/testdata/sf0.001").collect()
    sentinel = [r for r in rows if r["event_type"] == "__dropped_late__"]
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n_planted = ev.where(F.col("event_id") % 97 == 0).count()
    assert len(sentinel) == 1 and sentinel[0]["n_events"] == n_planted
    windows = [r for r in rows if r["event_type"] != "__dropped_late__"]
    mx = ev.agg(F.max("ts")).first()[0]
    import datetime

    for r in windows:
        assert r["hour_start"].year >= 2024
        assert r["hour_start"] + datetime.timedelta(hours=2) <= mx.replace(
            minute=59, second=59
        ) + datetime.timedelta(seconds=1)


def test_custom_source_batch_partitions_and_rows(spark, ops):
    """The custom format must plan the requested input partitions and
    yield each height exactly once with the closed-form fields."""
    df = ops["scan_custom_source"].fn(spark, "/root/testdata/sf0.001")
    assert df.rdd.getNumPartitions() == 8
    rows = {r["sequence_id"]: r for r in df.collect()}
    assert sorted(rows) == list(range(63600, 63900))
    r = rows[63607]
    assert r["subject"] == "block.63607"
    assert r["shard_count"] == 1 + 63607 % 4
    assert r["payload_bytes"] == 256 + (63607 * 37) % 1024


def test_custom_source_stream_resumes_offsets(spark, ops):
    """Across the three catch-up runs the sink must hold every height
    exactly once — the offset log, not luck, prevents re-reads."""
    out = ops["scan_custom_source_stream"].fn(spark, "/root/testdata/sf0.001")
    heights = [r["sequence_id"] for r in out.collect()]
    assert len(heights) == 300 and len(set(heights)) == 300
    assert min(heights) == 63600 and max(heights) == 63899


def test_custom_publish_manifest_atomic(spark, ops, tmp_path):
    """The op's aggregate must conserve all heights, and the sink's
    two-phase commit leaves a manifest whose per-file counts sum to the
    full publish with no temp files surviving."""
    import glob
    import json
    import os

    from australis_indexer_spark.sources.blockstream import register

    register(spark)
    out = str(tmp_path) + "/published"
    src = (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63700)
        .option("numPartitions", 4)
        .load()
    )
    src.write.format("australis_blocks").option("path", out).mode("append").save()
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert sum(m["n_rows"] for m in manifest) == 100
    assert not glob.glob(os.path.join(out, "_tmp_*"))
    assert not glob.glob(os.path.join(out, "_MANIFEST.json.tmp"))
    files = sorted(glob.glob(os.path.join(out, "part-*.jsonl")))
    assert len(files) == len(manifest)
    n_lines = sum(1 for fn in files for _ in open(fn))
    assert n_lines == 100


def test_windowed_topk_matches_batch(spark, ops):
    """Streaming windowed counts + batch rank must equal a pure-batch
    recomputation; every window carries contiguous ranks 1..k<=3."""
    from pyspark.sql import Window as W

    from tests.conftest import SF_SMOKE

    rows = ops["stream_windowed_topk"].fn(spark, SF_SMOKE).collect()
    by_w = {}
    for r in rows:
        by_w.setdefault(r["window_start"], []).append(r)
    for w, rs in by_w.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rks) + 1)) and len(rks) <= 3
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    batch = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .count()
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("w").orderBy(F.col("count").desc(), "event_type")
            ),
        )
        .where(F.col("rk") <= 3)
        .select(F.col("w.start").alias("ws"), "event_type", "count", "rk")
        .collect()
    )
    assert {(r["window_start"], r["event_type"], r["n_events"], r["rk"]) for r in rows} == {
        (r["ws"], r["event_type"], r["count"], r["rk"]) for r in batch
    }


def test_streaming_op_leaves_the_callers_shuffle_width(spark, ops):
    """A streaming op runs its query on a clone of the caller's session
    (streaming.pipeline.stream_session): another thread reading the
    caller's spark.sql.shuffle.partitions sees the caller's value for the
    whole run, the query's state width is the clone's bound, and a
    listener on the caller still receives the query's progress."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from tests.conftest import SF_SMOKE

    key = "spark.sql.shuffle.partitions"
    s = spark.newSession()
    s.conf.set(key, "13")
    widths = []

    class Widths(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            widths.extend(so.numShufflePartitions for so in event.progress.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    reads, done = [], threading.Event()

    def poll():
        while not done.is_set():
            reads.append(s.conf.get(key))
            time.sleep(0.002)

    listener = Widths()
    s.streams.addListener(listener)
    poller = threading.Thread(target=poll)
    poller.start()
    try:
        ops["stream_stateful_running_totals"].fn(s, SF_SMOKE).collect()
    finally:
        done.set()
        poller.join()
        s.streams.removeListener(listener)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert reads and set(reads) == {"13"}, sorted(set(reads))
    assert widths and set(widths) == {min(8, spark.sparkContext.defaultParallelism)}, widths


def test_stream_session_is_a_clone_with_the_callers_conf(spark):
    """stream_session returns a clone: it carries the caller's runtime conf
    and temp views, and its own state width and views stay off the
    caller."""
    from australis_indexer_spark.streaming.pipeline import stream_session

    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "13")
    s.range(3).createOrReplaceTempView("caller_view")
    clone = stream_session(s)
    assert clone.conf.get("spark.sql.session.timeZone") == "America/New_York"
    assert clone.table("caller_view").count() == 3
    assert clone.conf.get("spark.sql.shuffle.partitions") == str(
        min(8, spark.sparkContext.defaultParallelism)
    )
    clone.range(1).createOrReplaceTempView("clone_view")
    assert s.conf.get("spark.sql.shuffle.partitions") == "13"
    assert {t.name for t in s.catalog.listTables() if t.isTemporary} == {"caller_view"}


def test_shared_stream_source_caches_nothing(spark, tmp_path, monkeypatch):
    """The golden stream source is written once per process, so writing it
    leaves no cached fixture frame in the caller's CacheManager."""
    from australis_indexer_spark import scratch
    from australis_indexer_spark.streaming.pipeline import shared_stream_source

    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    s = spark.newSession()
    mgr = spark._jsparkSession.sharedState().cacheManager()
    before = mgr.cachedData().size()
    try:
        src = shared_stream_source(s)
    finally:
        # createDataFrame makes `s` the JVM thread's active session, and
        # later tests resolve Python data source names through that session
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    assert src.startswith(str(tmp_path))
    assert any(f.endswith(".json") for f in os.listdir(src))
    assert mgr.cachedData().size() == before


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The DEPLOY.md scale posture names RocksDB as the state store; this
    pins that the provider actually runs in this Spark build — a stateful
    streaming aggregation executes under RocksDB (provider-specific
    metrics present in progress) and lands on exactly the batch answer."""
    import os
    import uuid

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        base = str(tmp_path)
        src = os.path.join(base, "src")
        tbl = f"rocks_{uuid.uuid4().hex[:10]}"
        df = spark.range(0, 5000).selectExpr("id % 13 AS k", "id AS v")
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(src)
        q = (
            stream.groupBy("k")
            .agg(F.sum("v").alias("s"))
            .writeStream.format("memory")
            .queryName(tbl)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(base, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = q.recentProgress
        metrics = {}
        for p in progresses:
            for so in p["stateOperators"]:
                metrics.update(so.get("customMetrics", {}))
        assert any("rocksdb" in k.lower() for k in metrics), sorted(metrics)[:5]
        got = {(r["k"], r["s"]) for r in spark.table(tbl).collect()}
        want = {
            (r["k"], r["s"])
            for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
        }
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_ivm_join_view_matches_batch(spark, ops):
    """Four incremental delta-joins must equal the one-shot batch join
    aggregate exactly (counts and cents)."""
    from tests.conftest import SF_SMOKE

    rows = {r["nation_name"]: r for r in ops["stream_ivm_join_view"].fn(spark, SF_SMOKE).collect()}
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    batch = {
        r["n_name"]: (r["n"], r["s"])
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
        .collect()
    }
    assert {k: (v["n_orders"], v["total_cents"]) for k, v in rows.items()} == batch


def test_stateful_cep_cross_batch_conversions(spark, ops):
    """The stream splits at ts quartiles, so some click→purchase pairs
    straddle batch boundaries — totals must still equal the batch EXISTS
    recomputation, and pending-click state must stay bounded."""
    from tests.conftest import SF_SMOKE

    rows = {r["user_id"]: r for r in ops["stream_stateful_cep"].fn(spark, SF_SMOKE).collect()}
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").alias("c")
    purch = ev.where(F.col("event_type") == "purchase").alias("p")
    conv = (
        clicks.join(
            purch,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") > F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1800 SECOND")),
            "left_semi",
        )
        .groupBy("c.user_id")
        .count()
        .collect()
    )
    conv_map = {r["user_id"]: r["count"] for r in conv}
    click_map = {
        r["user_id"]: r["count"]
        for r in clicks.groupBy("user_id").count().collect()
    }
    for uid, want_clicks in click_map.items():
        assert rows[uid]["n_clicks"] == want_clicks
        assert rows[uid]["n_converted"] == conv_map.get(uid, 0)


def test_custom_publish_abort_leaves_nothing_visible(spark, ops, tmp_path):
    """The negative half of the sink's exactly-once contract: when the
    publish JOB fails (one task raises mid-stream), the two-phase commit
    must leave NOTHING visible at the sink root — no part files, no
    manifest, and no orphaned temp objects from the tasks that had
    already staged (DataSourceWriter.abort must sweep them). A polling
    reader keyed on _MANIFEST.json therefore observes either the full
    publish or the state before it, never a partial one."""
    import glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from australis_indexer_spark.sources.blockstream import register

    register(spark)
    out = str(tmp_path) + "/published"
    src = (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63700)
        .option("numPartitions", 4)
        .load()
    )

    @F.udf(returnType=IntegerType())
    def poison(seq):  # deterministic: retries fail identically
        if seq == 63650:
            raise RuntimeError("injected task failure mid-publish")
        return 1

    bad = src.withColumn("shard_count", poison("sequence_id"))
    with pytest.raises(Exception, match="injected task failure"):
        bad.write.format("australis_blocks").option("path", out).mode(
            "append"
        ).save()
    leftovers = glob.glob(os.path.join(out, "*")) if os.path.isdir(out) else []
    assert leftovers == [], f"aborted publish left visible state: {leftovers}"


def test_cdc_upsert_replay_and_out_of_order_converge(spark, tmp_path):
    """The foreachBatch contract is at-least-once: a batch may be applied
    AGAIN after its state was already merged (retry after a crash between
    state write and checkpoint commit), and in a backfill the change files
    may fold in any order. Both must converge to the same state because
    the merge is an argmax under the (o_orderdate, o_orderkey) total
    order. This drives the EXACT function the stream calls
    (cdc.apply_batch), not a reimplementation."""
    import os

    from australis_indexer_spark.streaming.cdc import (
        N_STATE_BUCKETS,
        apply_batch,
    )

    sf = "/root/testdata/sf0.001"
    orders = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn(
            "bucket", F.pmod(F.xxhash64("o_custkey"), F.lit(N_STATE_BUCKETS))
        )
    )
    batches = [
        orders.filter(F.pmod("o_orderkey", F.lit(3)) == i).localCheckpoint()
        for i in range(3)
    ]

    def state_rows(path):
        df = spark.read.parquet(path)
        return sorted(map(tuple, df.collect()))

    base = str(tmp_path)
    forward = os.path.join(base, "fwd")
    for b in batches:
        apply_batch(forward, b)
    expect = state_rows(forward)

    # replay: re-apply every batch after the stream "finished"
    for b in batches:
        apply_batch(forward, b)
    assert state_rows(forward) == expect, "replayed batches changed state"

    # out-of-order backfill: reversed application on a fresh state
    backward = os.path.join(base, "bwd")
    for b in reversed(batches):
        apply_batch(backward, b)
    assert state_rows(backward) == expect, "fold order changed the state"


import pytest as _pytest


@_pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stateful_state_survives_query_restart(spark, provider, tmp_path):
    """applyInPandasWithState state must live in the CHECKPOINT's state
    store, not the query object: run the running-totals stream over wave-1
    files (availableNow terminates), then drop wave-2 files and start a
    SECOND query on the same checkpoint. The restarted query must (a)
    read only the wave-2 rows — no reprocessing — and (b) resume each
    user's (count, cents) accumulator where run 1 left it, so the
    combined final emissions equal the one-shot batch GROUP BY over all
    events. This is the restart a 100 TB live pipeline performs on every
    deploy — parametrized over BOTH state store providers (VERDICT r6 #5:
    the long-lived deployment runs RocksDB, so the restart proof must
    cover snapshot+changelog recovery, not just the HDFS-backed default)."""
    import os

    _ROCKS = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:  # noqa: BLE001 — unset
        prev = None
    if provider == "rocksdb":
        spark.conf.set(conf_key, _ROCKS)
    try:

        from australis_indexer_spark.functions.det import dsum
        from australis_indexer_spark.sources.batch import load_table
        from australis_indexer_spark.streaming.stateful import (
            _RUNNING_SCHEMA,
            _STATE_SCHEMA,
            _running_per_user,
        )
        from pyspark.sql.streaming.state import GroupStateTimeout

        sf = "/root/testdata/sf0.001"
        events = load_table(spark, sf, "events")
        base = str(tmp_path)
        src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
        out = os.path.join(base, "out")
        wave1 = events.filter(F.col("event_id") % 2 == 0)
        wave2 = events.filter(F.col("event_id") % 2 == 1)
        wave1.coalesce(1).write.mode("append").parquet(src)

        def run_wave():
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 8)
                .parquet(src)
            )
            updates = stream.groupBy("user_id").applyInPandasWithState(
                _running_per_user,
                outputStructType=_RUNNING_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            # memory sinks cannot recover from a checkpoint; foreachBatch can
            q = (
                updates.writeStream.foreachBatch(
                    lambda b, _id: b.write.mode("append").parquet(out)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sum(p["numInputRows"] for p in q.recentProgress)

        rows1 = run_wave()
        wave2.coalesce(1).write.mode("append").parquet(src)
        rows2 = run_wave()

        assert rows1 == wave1.count(), "run 1 did not consume exactly wave 1"
        assert rows2 == wave2.count(), (
            "restarted query reprocessed old files instead of resuming from "
            "the checkpoint"
        )

        final = (
            spark.read.parquet(out)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in final.collect()
        }
        want = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in events.groupBy("user_id")
            .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
            .collect()
        }
        assert got == want, "state did not survive the restart"
    finally:
        if provider == "rocksdb":
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)


def test_cep_pending_click_survives_query_restart(spark, tmp_path):
    """The sharpest stateful-restart shape: a PARTIAL pattern match must
    cross a checkpoint restart. Wave 1 delivers clicks with no purchase
    (they sit in per-user pending state when the query terminates); a
    SECOND query on the same checkpoint delivers the purchases. The
    conversion whose click and purchase straddle the restart must be
    counted, a purchase arriving outside the 30-minute window must not
    convert its pre-restart click, and a same-run pair still works —
    proving the pending-click NFA state lives in the state store, so a
    mid-pattern deploy restart loses nothing."""
    import os

    from australis_indexer_spark.streaming.stateful import (
        _CEP_SCHEMA,
        _CEP_STATE,
        _CEP_TOL_US,
        _cep_matcher,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    MIN_US = 60_000_000
    t0 = 1_700_000_000_000_000
    schema = "user_id long, event_id long, event_type string, ts_us long"
    wave1 = [  # clicks only: all end the run as pending state
        (1, 10, "click", t0),
        (1, 11, "click", t0 + 5 * MIN_US),
        (2, 20, "click", t0),
    ]
    wave2 = [
        (1, 12, "purchase", t0 + 10 * MIN_US),   # converts BOTH user-1 clicks
        (2, 21, "purchase", t0 + _CEP_TOL_US + 5 * MIN_US),  # too late
        (3, 30, "click", t0),
        (3, 31, "purchase", t0 + MIN_US),        # same-run control
    ]

    base = str(tmp_path)
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    out = os.path.join(base, "out")

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        updates = stream.groupBy("user_id").applyInPandasWithState(
            _cep_matcher,
            outputStructType=_CEP_SCHEMA,
            stateStructType=_CEP_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            updates.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_wave(wave1)
    run_wave(wave2)

    final = {
        r["user_id"]: (r["n_clicks"], r["n_converted"])
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.max("n_clicks").alias("n_clicks"),
            F.max("n_converted").alias("n_converted"),
        )
        .collect()
    }
    assert final[1] == (2, 2), "cross-restart conversions lost"
    assert final[2] == (1, 0), "expired click converted after restart"
    assert final[3] == (1, 1), "same-run conversion broken"


def test_gap_tracker_watermark_survives_query_restart(spark, tmp_path):
    """The resume-point analog (FromInterruption): the gap tracker's
    (high-watermark, seen-count) state must carry across a checkpoint
    restart — wave 2 alone would report seen=5, only recovered state can
    report the full 10 — and a real gap introduced in wave 2 must be
    measurable against the recovered count."""
    import os

    from australis_indexer_spark.streaming.stateful import _gap_tracker
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = "bucket long, sequence_id long"
    wave1 = [(0, h) for h in range(5)] + [(1, h) for h in range(3)]
    # bucket 0 continues gap-free; bucket 1 SKIPS height 3 (a real gap)
    wave2 = [(0, h) for h in range(5, 10)] + [(1, h) for h in (4, 5)]

    base = str(tmp_path)
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    out = os.path.join(base, "out")

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        updates = stream.groupBy("bucket").applyInPandasWithState(
            _gap_tracker,
            outputStructType=(
                "bucket BIGINT, high_watermark BIGINT, n_seen BIGINT, "
                "n_missing BIGINT"
            ),
            stateStructType="hw BIGINT, seen BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            updates.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_wave(wave1)
    run_wave(wave2)

    final = {
        r["bucket"]: (r["high_watermark"], r["n_seen"])
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(
            F.max("high_watermark").alias("high_watermark"),
            F.max("n_seen").alias("n_seen"),
        )
        .collect()
    }
    assert final[0] == (9, 10), "watermark/count state lost at restart"
    hw, seen = final[1]
    assert (hw, seen) == (5, 5), "gap bucket state wrong after restart"
    assert hw - 0 + 1 - seen == 1, "the skipped height must surface as a gap"


def test_custom_source_empty_height_range_is_empty_df(spark, ops):
    """start == end must yield an empty DataFrame, not a task crash:
    pyspark 4.1 substitutes [None] for an empty partition list and
    read(None) raised AttributeError before the batch reader gained the
    stream reader's guard (round-6 review)."""
    from australis_indexer_spark.sources.blockstream import register

    register(spark)
    df = (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63600)
        .load()
    )
    assert df.count() == 0


def test_custom_publish_republish_semantics(spark, ops, tmp_path):
    """Round-6 review: final part names were job-UNscoped (part-00000...),
    so a second publish os.replace()d the very files the first manifest
    still named — a reader holding that manifest could observe mixed
    content. Now: names are job-scoped, append MERGES manifests (both
    publishes visible), and overwrite replaces the manifest and garbage-
    collects unreferenced parts only after promotion."""
    import glob
    import json
    import os

    from australis_indexer_spark.sources.blockstream import register

    register(spark)
    out = str(tmp_path) + "/published"

    def publish(start, end, mode):
        (
            spark.read.format("australis_blocks")
            .option("start", start)
            .option("end", end)
            .option("numPartitions", 2)
            .load()
            .write.format("australis_blocks")
            .option("path", out)
            .mode(mode)
            .save()
        )

    def manifest():
        with open(os.path.join(out, "_MANIFEST.json")) as f:
            return json.load(f)

    publish(63600, 63650, "append")
    first_files = {e["file"] for e in manifest()}
    assert sum(e["n_rows"] for e in manifest()) == 50

    # append: both publishes visible, first job's files untouched
    publish(63650, 63680, "append")
    m2 = manifest()
    assert sum(e["n_rows"] for e in m2) == 80
    assert first_files < {e["file"] for e in m2}
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(out, "part-*.jsonl"))}
    assert {e["file"] for e in m2} == on_disk

    # overwrite: manifest replaced, stale parts GC'd after promotion
    publish(63600, 63610, "overwrite")
    m3 = manifest()
    assert sum(e["n_rows"] for e in m3) == 10
    assert not ({e["file"] for e in m3} & first_files)
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(out, "part-*.jsonl"))}
    assert {e["file"] for e in m3} == on_disk
    assert not glob.glob(os.path.join(out, "_tmp_*"))


def test_custom_publish_commit_lock_serializes(spark, tmp_path):
    """ADVICE r6: the append-mode manifest merge is a read-modify-write, so
    concurrent committers must serialize. Unit-level checks of the O_EXCL
    lock protocol: a held lock blocks a second acquirer until timeout; a
    STALE lock (holder crashed mid-commit, mtime older than 2x timeout) is
    broken and acquired; and a completed publish leaves no lock behind."""
    import glob
    import os
    import time

    import pytest

    from australis_indexer_spark.sources.blockstream import _PublishWriter, register

    out = str(tmp_path)
    w1 = _PublishWriter({"path": out})
    w2 = _PublishWriter({"path": out})
    lock = w1._acquire_commit_lock()
    assert os.path.exists(lock)
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        w2._acquire_commit_lock(timeout_s=0.3)
    assert time.monotonic() - t0 >= 0.3
    os.remove(lock)

    # stale-lock break: holder "crashed" an hour ago (> _LOCK_STALE_S)
    lock = w1._acquire_commit_lock()
    old = time.time() - 3600
    os.utime(lock, (old, old))
    assert w2._acquire_commit_lock(timeout_s=0.5) == lock
    with open(lock) as f:
        assert f.read() == w2.job_id  # w2 owns it now

    # ownership-checked release: the ORIGINAL holder's release after a
    # stale-break must NOT delete the breaker's fresh lock, and must not
    # raise if the lock is already gone
    w1._release_commit_lock(lock)
    assert os.path.exists(lock), "non-owner release deleted the lock"
    w2._release_commit_lock(lock)
    assert not os.path.exists(lock)
    w2._release_commit_lock(lock)  # idempotent on missing lock

    # end-to-end: a real publish acquires and releases; no lock survives
    register(spark)
    sink = out + "/published"
    (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63610)
        .option("numPartitions", 2)
        .load()
        .write.format("australis_blocks")
        .option("path", sink)
        .mode("append")
        .save()
    )
    assert not glob.glob(os.path.join(sink, "_MANIFEST.lock"))
    assert not glob.glob(os.path.join(sink, "_MANIFEST.json.*.tmp"))


def test_custom_publish_stale_break_serializes_breakers(spark, tmp_path):
    """ADVICE r7: the stale-break TOCTOU — two waiters both observing the
    same stale instance, the slower one's unlink deleting the winning
    breaker's FRESH lock — is closed by serializing breakers on an O_EXCL
    marker. Pinned at the protocol level:

    1. while ANOTHER breaker holds the marker, a waiter must NOT unlink
       even a genuinely stale lock (it backs off and times out);
    2. a marker abandoned by a crashed breaker is cleared after
       _BREAK_STALE_S and the break then proceeds;
    3. a successful break leaves no marker behind;
    4. ownership re-verification before manifest promotion fails LOUDLY
       when the lock carries a different job id."""
    import os
    import time

    import pytest

    from australis_indexer_spark.sources.blockstream import _PublishWriter

    out = str(tmp_path)
    w1 = _PublishWriter({"path": out})
    w2 = _PublishWriter({"path": out})

    # (1) stale lock + FRESH marker held by an in-flight breaker: the
    # waiter may not unlink the lock, so acquisition times out and the
    # stale instance survives untouched
    lock = w1._acquire_commit_lock()
    old = time.time() - 3600
    os.utime(lock, (old, old))
    marker = lock + ".break"
    with open(marker, "w") as f:
        f.write("someone-else")
    with pytest.raises(TimeoutError):
        w2._acquire_commit_lock(timeout_s=0.3)
    assert os.path.exists(lock), "waiter unlinked the lock past a held marker"
    with open(lock) as f:
        assert f.read() == w1.job_id

    # (2) abandoned marker (creator crashed mid-break): cleared, then the
    # stale lock is broken and acquired
    os.utime(marker, (old, old))
    assert w2._acquire_commit_lock(timeout_s=1.0) == lock
    with open(lock) as f:
        assert f.read() == w2.job_id
    # (3) no marker survives a completed break
    assert not os.path.exists(marker)

    # (4) ownership assert: passes for the holder, raises once the lock
    # carries another committer's id
    w2._assert_lock_ownership(lock)
    with open(lock, "w") as f:
        f.write(w1.job_id)
    with pytest.raises(RuntimeError, match="lock lost mid-critical-section"):
        w2._assert_lock_ownership(lock)
    os.remove(lock)
    with pytest.raises(RuntimeError, match="missing"):
        w2._assert_lock_ownership(lock)


def test_split_into_batches_rejects_null_keys(spark, tmp_path):
    """ADVICE r6: the harness's chunk filters (key > lo AND key <= hi)
    exclude NULLs from every bucket — a nullable key column would lose
    rows from all micro-batches with no error. The contract is asserted:
    a NULL-keyed frame is rejected loudly, a null-free one still splits."""
    import os

    import pytest

    from australis_indexer_spark.streaming.harness import split_into_batches

    src = str(tmp_path)
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "k BIGINT, v STRING"
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        split_into_batches(df, "k", src)
    assert not os.listdir(src)  # rejected before any chunk was written

    split_into_batches(df.filter("k IS NOT NULL"), "k", src, n=2)
    assert spark.read.parquet(src).count() == 2


def test_split_into_batches_null_guard_adds_no_job(spark, tmp_path):
    """ADVICE r7: the null-key guard previously ran a dedicated isEmpty()
    job that, in the common null-free case, scanned the whole key column.
    The guard now rides the approxQuantile pass as an observe() metric —
    pinned at the scheduler level: splitting a null-free NULLABLE-schema
    frame must run exactly (bare approxQuantile jobs, measured as the
    baseline on the same frame) + n write jobs — i.e. zero jobs
    attributable to the guard."""

    from australis_indexer_spark.streaming.harness import split_into_batches

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k BIGINT, v STRING"
    )
    assert df.schema["k"].nullable  # the guard-active case
    sc = spark.sparkContext

    sc.setJobGroup("nullguard-baseline", "bare approxQuantile job count")
    try:
        df.approxQuantile("k", [1 / 3, 2 / 3], 0.001)
    finally:
        sc.setJobGroup(None, None)
    baseline = len(sc.statusTracker().getJobIdsForGroup("nullguard-baseline"))

    src = str(tmp_path)
    group = "nullguard-jobcount"
    sc.setJobGroup(group, "split_into_batches job audit")
    try:
        split_into_batches(df, "k", src, n=3)
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == baseline + 3, (
        f"expected {baseline + 3} jobs (quantile baseline {baseline} + 3 "
        f"writes), got {jobs} — the null guard is running extra jobs again"
    )
    assert spark.read.parquet(src).count() == 100


def test_custom_publish_concurrent_appends_lose_no_update(spark, tmp_path):
    """End-to-end race of the ADVICE r6 lost-update class: FOUR publishers
    append to the same sink root concurrently (threads — the lock is
    file-based, so cross-thread exercises the same O_EXCL interleavings as
    cross-process). Without commit serialization, two committers reading
    the old _MANIFEST.json concurrently would have the last os.replace
    win, silently dropping the other's entries. With the lock, the final
    manifest must carry EVERY job's entries, their row counts must sum to
    the full publish, every named part must exist on disk with exactly its
    declared rows, and no lock or staging file may survive."""
    import glob
    import json
    import os
    import threading

    from australis_indexer_spark.sources.blockstream import register

    register(spark)
    out = str(tmp_path) + "/published"
    ranges = [(63600, 63620), (63620, 63645), (63645, 63655), (63655, 63680)]
    errors = []

    def publish(start, end):
        try:
            # Python-data-source NAME RESOLUTION goes through the JVM
            # thread's ACTIVE session's DataSourceManager, and each fresh
            # Python thread gets a fresh py4j-handler JVM thread with no
            # active session — so format("australis_blocks") raises
            # DATA_SOURCE_NOT_FOUND from a worker thread unless the
            # session is pinned active on it first (classic mode; found
            # building this test).
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            (
                spark.read.format("australis_blocks")
                .option("start", start)
                .option("end", end)
                .option("numPartitions", 2)
                .load()
                .write.format("australis_blocks")
                .option("path", out)
                .mode("append")
                .save()
            )
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=publish, args=r) for r in ranges]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"concurrent publishers raised: {errors}"

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    total = sum(e - s for s, e in ranges)
    assert sum(e["n_rows"] for e in manifest) == total
    # every job contributed entries (job-scoped part prefixes all distinct)
    jobs = {e["file"].split("-")[1] for e in manifest}
    assert len(jobs) == len(ranges), f"lost a publisher's entries: {jobs}"
    on_disk = {
        os.path.basename(p) for p in glob.glob(os.path.join(out, "part-*.jsonl"))
    }
    assert {e["file"] for e in manifest} == on_disk
    n_lines = {
        os.path.basename(fn): sum(1 for _ in open(fn))
        for fn in glob.glob(os.path.join(out, "part-*.jsonl"))
    }
    for e in manifest:
        assert n_lines[e["file"]] == e["n_rows"]
    # heights conserved exactly once across the whole publish
    seqs = sorted(
        json.loads(ln)["sequence_id"]
        for fn in glob.glob(os.path.join(out, "part-*.jsonl"))
        for ln in open(fn)
    )
    assert seqs == list(range(63600, 63680))
    assert not glob.glob(os.path.join(out, "_MANIFEST.lock"))
    assert not glob.glob(os.path.join(out, "_tmp_*"))
