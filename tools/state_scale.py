"""Streaming state-store scale proof under RocksDB (VERDICT r6 #5).

The 100 TB streaming posture claims BOUNDED state: the 24 h dedup evicts
via `dropDuplicatesWithinWatermark` (streaming/pipeline.py:128-138 — the
exact contract the r6 fix installed after plain `dropDuplicates` was found
never evicting), and the applyInPandasWithState family keys its state on a
bounded domain (users, height buckets), never on stream length. Until now
that claim rested on the within-watermark contract alone; this tool MEASURES
it: each scenario streams a multi-batch load through the REAL stateful
kernels under the RocksDB state store provider
(`spark.sql.streaming.stateStore.providerClass`, the store a long-lived
100 TB deployment runs — DEPLOY.md scale posture) and records, per
micro-batch, the state operator's `numRowsTotal` plus the RocksDB SST file
volume from query progress. PASS = state rows PLATEAU (bounded by
watermark-window rows / keyspace / bucket count) while cumulative input
grows linearly; a state-rows curve tracking cumulative input is exactly the
blowup class the r6 dedup fix removed.

Scenarios (each cites the production code it exercises):

- dedup_watermark  withWatermark("event_time","24 hours")
                   .dropDuplicatesWithinWatermark(["sequence_id"]) — the
                   run_pipeline T2 stage verbatim. 12 daily waves, every
                   wave delivered TWICE (at-least-once duplicates), event
                   time advancing one day per wave: the 24 h watermark must
                   evict each previous day's keys, so state rows track the
                   per-wave key count, not the 12-wave cumulative total.
- running_totals   streaming/stateful._running_per_user — per-user
                   (count, exact-cents) accumulators. 12 batches over a
                   fixed 500-user keyspace: state rows plateau at 500.
- gap_tracker      streaming/stateful._gap_tracker — per-bucket high
                   watermark. The SAME height range redelivered in all 8
                   batches (at-least-once replay): state rows stay at the
                   bucket count from batch 1.
- cep              streaming/stateful._cep_matcher — pending-click NFA.
                   8 batches over 500 users; state rows plateau at the
                   keyspace, and the per-user pending list is bounded by
                   click rate x 30 min window, not batch count.

Usage: python tools/state_scale.py   (splices SCALING.md's
"## Streaming state scale under RocksDB" section; exits 1 if any
scenario's final state rows exceed its bound)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from australis_indexer_spark.fixtures import FIXTURE_START_HEIGHT
from tools.docsplice import fmt_bytes, splice_section
from australis_indexer_spark.scratch import scratch_dir
from australis_indexer_spark.session import get_session
from australis_indexer_spark.streaming.pipeline import start_drained, stream_session

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_MARK = "## Streaming state scale under RocksDB"


def _write_batch_file(df, src: str, stamped: set, batch_idx: int) -> None:
    """Append one coalesced parquet file and pin its mtime to a strictly
    increasing per-batch stamp. FileStreamSource orders new files by
    modification time, and files written back-to-back can SHARE an mtime
    (the ADVICE r3 hazard streaming/harness.py documents) — unstamped,
    micro-batch order would be mtime-tie-lucky, and an out-of-order wave
    would let the watermark jump ahead and drop earlier waves as late
    data, so the recorded state curve would measure late-data drops
    instead of watermark eviction (round-7 review)."""
    import time

    df.coalesce(1).write.mode("append").parquet(src)
    stamp = time.time() - 86_400 + 10 * batch_idx
    for fn in sorted(os.listdir(src)):
        full = os.path.join(src, fn)
        if fn.endswith(".parquet") and full not in stamped:
            os.utime(full, (stamp, stamp))
            stamped.add(full)


def _drain(stream_df, out_dir: str, ckpt: str, mode: str = "update"):
    """Run one availableNow pass (maxFilesPerTrigger=1 upstream makes each
    source file its own micro-batch) and return per-batch state metrics."""
    q = start_drained(
        stream_df.writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(out_dir)
        )
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    rows = []
    cum = 0
    for p in q.recentProgress:
        if not p["stateOperators"]:
            continue
        so = p["stateOperators"][0]
        cum += p["numInputRows"]
        sst = int(so.get("customMetrics", {}).get("rocksdbSstFileSize", 0))
        rows.append((p["batchId"], p["numInputRows"], cum, so["numRowsTotal"], sst))
    return rows


def scenario_dedup(spark: SparkSession, base: str):
    """run_pipeline's T2 stage: 12 daily waves, each delivered twice."""
    src = os.path.join(base, "dedup_src")
    dedup_stamped: set = set()
    n_waves, wave_keys = 12, 4000
    for w in range(n_waves):
        wave = spark.range(wave_keys).select(
            (F.col("id") + w * wave_keys).alias("sequence_id"),
            F.timestamp_seconds(F.lit(86_400 * (w + 1)) + F.col("id") % 3600)
            .alias("event_time"),
        )
        # at-least-once: every wave delivered twice, one file per delivery
        for d in range(2):
            _write_batch_file(wave, src, dedup_stamped, 2 * w + d)
    stream = (
        spark.readStream.schema("sequence_id BIGINT, event_time TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.withWatermark(
        "event_time", "24 hours"
    ).dropDuplicatesWithinWatermark(["sequence_id"])
    rows = _drain(
        deduped, os.path.join(base, "dedup_out"), os.path.join(base, "dedup_ck"),
        mode="append",
    )
    # bound: a key lives until the watermark passes event_time + 24 h, and
    # the watermark is computed at batch END and applied at the NEXT
    # trigger — so the arriving wave + the full previous-day window + one
    # trigger of eviction lag = 3 waves in state transiently (measured:
    # oscillates 8k-12k), never the 12-wave cumulative 48k
    return rows, 3 * wave_keys, "3x wave keys (24 h window + 1-trigger watermark lag)"


def scenario_running_totals(spark: SparkSession, base: str):
    from australis_indexer_spark.streaming.stateful import (
        _RUNNING_SCHEMA,
        _STATE_SCHEMA,
        _running_per_user,
    )

    src = os.path.join(base, "tot_src")
    stamped: set = set()
    n_batches, users = 12, 500
    for b in range(n_batches):
        _write_batch_file(
            spark.range(5000).select(
                (F.col("id") % users).alias("user_id"),
                ((F.col("id") * 7 + b) % 1000 / 100.0).alias("value"),
            ),
            src, stamped, b,
        )
    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _running_per_user,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = _drain(updates, os.path.join(base, "tot_out"), os.path.join(base, "tot_ck"))
    return rows, users, "fixed 500-user keyspace"


def scenario_gap_tracker(spark: SparkSession, base: str):
    from australis_indexer_spark.streaming.stateful import _gap_tracker

    src = os.path.join(base, "gap_src")
    stamped: set = set()
    heights, n_redeliver = 2048, 8
    hdf = spark.range(heights).select(
        (F.col("id") + FIXTURE_START_HEIGHT).alias("sequence_id")
    )
    for b in range(n_redeliver):  # at-least-once: same range every batch
        _write_batch_file(hdf, src, stamped, b)
    stream = (
        spark.readStream.schema("sequence_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = (
        stream.withColumn("bucket", (F.col("sequence_id") / 16).cast("bigint") * 16)
        .groupBy("bucket")
        .applyInPandasWithState(
            _gap_tracker,
            outputStructType=(
                "bucket BIGINT, high_watermark BIGINT, n_seen BIGINT, n_missing BIGINT"
            ),
            stateStructType="hw BIGINT, seen BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    rows = _drain(updates, os.path.join(base, "gap_out"), os.path.join(base, "gap_ck"))
    n_buckets = heights // 16 + 2
    return rows, n_buckets, "height-range bucket count (redelivery adds none)"


def scenario_cep(spark: SparkSession, base: str):
    from australis_indexer_spark.streaming.stateful import (
        _CEP_SCHEMA,
        _CEP_STATE,
        _cep_matcher,
    )

    src = os.path.join(base, "cep_src")
    stamped: set = set()
    n_batches, users = 8, 500
    for b in range(n_batches):
        _write_batch_file(
            spark.range(4000).select(
                (F.col("id") % users).alias("user_id"),
                (F.lit(b * 4000) + F.col("id")).alias("event_id"),
                (F.lit(b) * 3_600_000_000 + F.col("id") * 400_000).alias("ts_us"),
                F.when(F.col("id") % 5 == 0, "purchase").otherwise("click")
                .alias("event_type"),
            ),
            src, stamped, b,
        )
    stream = (
        spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts_us BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _cep_matcher,
        outputStructType=_CEP_SCHEMA,
        stateStructType=_CEP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = _drain(updates, os.path.join(base, "cep_out"), os.path.join(base, "cep_ck"))
    return rows, users, "fixed 500-user keyspace (pending list window-bounded)"


SCENARIOS = {
    "dedup_watermark": scenario_dedup,
    "running_totals": scenario_running_totals,
    "gap_tracker": scenario_gap_tracker,
    "cep": scenario_cep,
}


def main() -> int:
    # the scenarios run on the ops' streaming session: the same state
    # partition width, with RocksDB set on that clone only
    spark = stream_session(get_session("state_scale"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    base = scratch_dir(prefix="aispark_state_scale_")
    lines = [
        _MARK,
        "",
        "Per-micro-batch state metrics under the RocksDB state store",
        "provider (the long-lived-deployment store, DEPLOY.md), generated",
        "by tools/state_scale.py — the measured form of the bounded-state",
        "claim (VERDICT r6 #5). Each scenario drives the REAL stateful",
        "kernel (pipeline.py dedup stage / stateful.py kernels) with a",
        "multi-batch load where cumulative input grows linearly; `state",
        "rows` must plateau at its documented bound (watermark window /",
        "keyspace / bucket count), never track cumulative input. RocksDB",
        "SST bytes shown as the on-disk footprint of the same plateau.",
        "",
        "Per-scenario plateau bounds (VERDICT r7 #5 asked for the CEP",
        "bound in prose): `dedup_watermark` peaks at 3x the per-wave key",
        "count (24 h window + one trigger of watermark lag) while",
        "cumulative input grows unbounded; `running_totals` and",
        "`gap_tracker` plateau at their fixed keyspace / bucket count",
        "(one state row per live key); `cep` — the pending-click NFA —",
        "plateaus at exactly one state row per user in the fixed",
        "keyspace, because each user's pending-impression list is itself",
        "window-bounded (impressions older than the click horizon are",
        "pruned every trigger), so CEP state is O(users), NOT",
        "O(users x impressions). At 100 TB the stateful operators' memory",
        "is governed by live-entity cardinality and window width alone.",
        "",
        "| scenario | batch | input rows | cumulative | state rows | rocksdb sst |",
        "|---|---|---|---|---|---|",
    ]
    failures: list[str] = []
    for name, fn in SCENARIOS.items():
        rows, bound, bound_desc = fn(spark, base)
        assert rows, f"{name}: no stateful progress captured"
        for batch_id, n_in, cum, n_state, sst in rows:
            lines.append(
                f"| {name} | {batch_id} | {n_in} | {cum} | {n_state} "
                f"| {fmt_bytes(sst)} |"
            )
        final_state = rows[-1][3]
        peak_state = max(r[3] for r in rows)
        cum_in = rows[-1][2]
        verdict = "PASS" if peak_state <= bound else "FAIL"
        if verdict == "FAIL":
            failures.append(name)
        lines.append(
            f"| {name} | — | — | {cum_in} | peak {peak_state} "
            f"(bound {bound}: {bound_desc}) **{verdict}** | |"
        )
        print(
            f"{verdict} {name}: peak state {peak_state} <= bound {bound} "
            f"({bound_desc}); cumulative input {cum_in}; "
            f"final state {final_state}"
        )
    lines.append("")

    scaling = Path(__file__).resolve().parent.parent / "SCALING.md"
    # Marker-bounded splice via the shared helper: stops at the next
    # heading of ANY level and guards that everything outside the
    # section is byte-identical (the round-8 clobber — stopping only at
    # "\n## " and eating a trailing ###-section — can't recur).
    splice_section(scaling, _MARK, "\n".join(lines) + "\n")
    print(f"spliced '{_MARK}' into {scaling}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
