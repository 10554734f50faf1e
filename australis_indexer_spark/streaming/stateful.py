"""Custom stateful streaming operators (`applyInPandasWithState`).

The reference keeps exactly one piece of cross-message state: the connection
FSM + the stream's resume point (borealis-indexer/src/main.rs:574-768,
configs.rs:143). Downstream consumers, though, are explicitly expected to
build stateful views ("for other services (as consumers/subscribers)",
README.md:4). These ops are the engine's custom-stateful surface — the
escape hatch for semantics Spark's built-in windows can't express.

Design rules for 100 TB:
- state is keyed (here: user_id / height-bucket) so it shards across
  executors with the shuffle — never global;
- per-key state is O(1) scalars, not row buffers;
- on a cluster the state store is RocksDB (session.CLUSTER_CONF) so state
  size is bounded by disk, not heap.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..fixtures import FIXTURE_START_HEIGHT
from ..scratch import scratch_dir
from ..operators import fixture_oracles as FO
from ..registry import op
from ..sources.batch import load_table as lt
from .harness import split_into_batches
from .pipeline import drain_to_memory, stream_session

_RUNNING_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
_STATE_SCHEMA = "n BIGINT, total BIGINT"


def _running_per_user(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user running (count, exact-cents sum) across micro-batches.

    State is two integers per user; each emitted row is the running total
    AFTER this batch — monotone, so MAX(emission) == final value."""
    n, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # exact integer cents (functions/det.py convention) — float sums
        # would drift between accumulation orders. Rounding is PER-ROW and
        # HALF-AWAY (sign*floor(abs+0.5)), matching the oracle's
        # SUM(ROUND(value*100)): a single batch-level round drifts on
        # sub-cent values (two 0.004s: oracle 0, batch-round(0.8) 1), and
        # Python/numpy round are half-EVEN where SQL ROUND is half-away.
        # pandas .sum() skips NaN (the Arrow bridge's NULL), which is
        # exactly the per-batch partial of SQL's null-skipping SUM; an
        # all-NULL batch adds 0 (oracle COALESCEs identically).
        v = pdf["value"].astype(float) * 100.0
        total += int((np.sign(v) * np.floor(np.abs(v) + 0.5)).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total / 100.0]}
    )


@op(
    "stream_stateful_running_totals",
    tags=("parity", "streaming", "stateful"),
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       -- accumulator semantics: a running spend counter starts at 0 and
       -- stays 0 while every arriving value is NULL (the pandas kernel's
       -- NaN-skipping sum IS the null-skipping SUM partial); bare SQL SUM
       -- would report NULL for an all-NULL user (eclipse:152 kill)
       (COALESCE(SUM(CAST(ROUND(value * 100.0) AS BIGINT)), 0) / 100.0)
         AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op end-to-end: stream the events table through
    `applyInPandasWithState` keyed by user, emitting running totals each
    micro-batch; the final state (MAX of monotone emissions) must equal the
    batch GROUP BY — which is the oracle. State survives across triggers via
    the state store, exactly how a 100 TB live pipeline would keep per-entity
    aggregates current."""
    events = lt(spark, sf_dir, "events")
    src = scratch_dir(prefix="aispark_state_src_")
    events.write.mode("overwrite").parquet(src)
    stream = (
        stream_session(spark)
        .readStream.schema(events.schema)
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
    out = drain_to_memory(updates, "update")
    # the FINAL emission per key is the answer. n_events is genuinely
    # monotone; total_value is only monotone while every value is
    # non-negative, so take the argmax EMISSION via a struct max keyed on
    # n_events instead of two independent maxima — a refund/correction
    # (negative value) in the last batch would make MAX(total_value)
    # return an intermediate running total
    m = F.max(F.struct("n_events", "total_value")).alias("m")
    return (
        out.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            F.col("m.total_value").alias("total_value"),
        )
    )


_GAP_SCHEMA = "bucket BIGINT, high_watermark BIGINT, n_seen BIGINT, n_missing BIGINT"


def _gap_tracker(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-bucket monotonic high-watermark + gap count across batches —
    the stateful twin of the reference's FromInterruption resume point
    (configs.rs:143): state == (high watermark, distinct heights seen)."""
    hw, seen = state.get if state.exists else (-1, 0)
    lo = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        b_lo = int(pdf["sequence_id"].min())
        lo = b_lo if lo is None else min(lo, b_lo)
        hw = max(hw, int(pdf["sequence_id"].max()))
        seen += int(pdf["sequence_id"].nunique())
    state.update((hw, seen))
    if lo is None:
        return
    span_start = int(key[0])
    yield pd.DataFrame(
        {
            "bucket": [span_start],
            "high_watermark": [hw],
            "n_seen": [seen],
            "n_missing": [0],  # refined by the caller against bucket span
        }
    )


@op(
    "stream_stateful_gap_tracker",
    tags=("parity", "streaming", "stateful"),
    oracle=FO.gap_tracker_oracle,
)
def stream_stateful_gap_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T3 as a custom stateful op: track per-bucket height high-watermark
    and seen-count across micro-batches over the fixture block stream; a
    bucket with (high_watermark − low + 1) > n_seen has a gap (lost
    messages). The fixture is gap-free, so all `contiguous` flags are true —
    the oracle re-derives each bucket's (hw, count, contiguity) in Python."""
    from .pipeline import (
        height_bucket_expr,
        to_envelope_stream,
        read_block_stream,
        shared_stream_source,
    )

    src = shared_stream_source(spark)
    env = to_envelope_stream(read_block_stream(stream_session(spark), src)).withColumn(
        "bucket", height_bucket_expr(size=16) * 16
    )
    updates = env.select("bucket", "sequence_id").groupBy("bucket").applyInPandasWithState(
        _gap_tracker,
        outputStructType=_GAP_SCHEMA,
        stateStructType="hw BIGINT, seen BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        drain_to_memory(updates, "update")
        .groupBy("bucket")
        .agg(F.max("high_watermark").alias("high_watermark"), F.max("n_seen").alias("n_seen"))
    )
    return final.select(
        "bucket",
        "high_watermark",
        "n_seen",
        (
            F.col("n_seen")
            == F.col("high_watermark")
            - F.greatest(F.col("bucket"), F.lit(FIXTURE_START_HEIGHT))
            + 1
        ).alias("contiguous"),
    )


_CEP_TOL_US = 1_800_000_000  # 30 minutes
_CEP_SCHEMA = "user_id BIGINT, n_clicks BIGINT, n_converted BIGINT"
_CEP_STATE = (
    "pend_ts ARRAY<BIGINT>, pend_id ARRAY<BIGINT>, n_clicks BIGINT, n_conv BIGINT"
)


def _cep_matcher(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Unbounded-lookahead click→purchase matcher. State per user: the
    pending (unconverted, unexpired) clicks plus running counters —
    bounded by click rate × window, never by stream length. Rows are
    processed in (ts, id) order; a purchase converts every pending click
    in its trailing 30-minute window exactly once; clicks older than the
    current time minus the window expire (the event stream arrives
    time-ordered, so no later purchase can reach them)."""
    if state.exists:
        pend_ts, pend_id, n_clicks, n_conv = state.get
        pend = list(zip(pend_ts, pend_id))
    else:
        pend, n_clicks, n_conv = [], 0, 0
    # materialize FIRST: `if pdfs` would test the truthiness of the
    # iterator object itself (always True), and pd.concat([]) raises —
    # an empty delivery (e.g. a timed-out key, if a timeout is ever
    # added) must yield an empty frame, not crash the query
    chunks = list(pdfs)
    rows = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(rows):
        rows = rows.sort_values(["ts_us", "event_id"])
        for ts_us, eid, etype in zip(
            rows["ts_us"], rows["event_id"], rows["event_type"]
        ):
            ts_us = int(ts_us)
            if etype == "click":
                pend.append((ts_us, int(eid)))
                n_clicks += 1
            elif etype == "purchase":
                keep = []
                for c_ts, c_id in pend:
                    if c_ts < ts_us and ts_us - c_ts <= _CEP_TOL_US:
                        n_conv += 1
                    else:
                        keep.append((c_ts, c_id))
                pend = keep
            pend = [(t, i) for t, i in pend if ts_us - t <= _CEP_TOL_US]
    state.update(
        ([t for t, _ in pend], [i for _, i in pend], n_clicks, n_conv)
    )
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_clicks": [n_clicks],
            "n_converted": [n_conv],
        }
    )


_CEP_STREAM_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_clicks,
       CAST(SUM(CASE WHEN EXISTS (
              SELECT 1 FROM events p
              WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                AND p.ts > c.ts
                AND p.ts <= c.ts + INTERVAL 1800 SECOND)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM events c
WHERE c.event_type = 'click'
GROUP BY user_id
"""


@op(
    "stream_stateful_cep",
    tags=("streaming", "stateful", "cep"),
    oracle=_CEP_STREAM_ORACLE,
)
def stream_stateful_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP with UNBOUNDED intermediate events — the pattern
    window_pattern_cep's fixed-lookahead LEAD compilation cannot express
    (click converts if ANY later purchase lands within 30 minutes, no
    matter how many events intervene). `applyInPandasWithState` keeps
    per-user state of exactly the pending clicks (bounded by rate×window:
    matched clicks retire, stale clicks expire as event time advances) —
    the Flink-CEP NFA-with-pruning design, sharded by the user-key
    shuffle so state scales horizontally. Four time-ordered micro-batches
    must land on exactly the batch EXISTS-subquery answer, including
    conversions whose click and purchase arrive in DIFFERENT batches —
    the cross-batch state is what's under test."""
    ev = (
        lt(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            # tz-FREE microsecond clock: unix_micros(CAST(ts AS TIMESTAMP))
            # would route the NTZ wall-clock through the SESSION timezone
            # (the foreign-session hazard sources/batch.py documents), so
            # on a non-UTC harness session a DST transition would change
            # inter-event gaps and the conversion count. Same field
            # arithmetic as pipeline.py's _EVT_WM, without the shift.
            F.expr(
                "CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)*86400000000"
                " + CAST(extract(HOUR FROM ts) AS BIGINT)*3600000000"
                " + CAST(extract(MINUTE FROM ts) AS BIGINT)*60000000"
                " + CAST(extract(SECOND FROM ts)*1000000 AS BIGINT)"
            ).alias("ts_us"),
        )
        .where(F.col("event_type").isin("click", "purchase"))
    )
    base = scratch_dir(prefix="aispark_cep_")
    src = os.path.join(base, "src")
    # exact quantiles (rel_err=0) — batch boundaries are part of what's
    # under test; mtimes stamped because the NFA is order-DEPENDENT
    # (shared harness carries the dust:102 empty-frame guard and the
    # ADVICE-r3 mtime rationale)
    split_into_batches(ev, "ts_us", src, rel_err=0.0, stamp_mtimes=True)

    stream = stream_session(spark).readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _cep_matcher,
        outputStructType=_CEP_SCHEMA,
        stateStructType=_CEP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        drain_to_memory(updates, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_clicks").alias("n_clicks"),
            F.max("n_converted").alias("n_converted"),
        )
    )
    return final.where(F.col("n_clicks") > 0)
