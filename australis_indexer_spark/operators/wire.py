"""Inventory-completion ops: sources, sinks, codecs, ordering (SURVEY.md §2).

Each op here carries the exact engine-op name from the SURVEY §2 tables so
the coverage checklist maps one-to-one:

- §2.1  `scan_batch`, `init_config`, `scan_subscribe`, `scan_backfill_mode`
  (plus `scan_stream`/`scan_durable`/`scan_from_offset` in streaming.pipeline
  and relational.py)
- §2.2  `project_unwrap`, `project_reencode`
- §2.3  `cbor_encode`, `cbor_decode`, `json_encode`, `json_decode`,
  `compress_roundtrip` (C6/C7 — ZLIB, LZ4F and ZSTD through
  `codecs.make_compress_udf`/`make_decompress_udf`)
- §2.4  `sink_publish`, `sink_durable`, `sink_console`
- §2.5  `order_by_height`, `replay_all`
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType

from ..scratch import scratch_dir
from ..fixtures import FIXTURE_BLOCKS, blocks_df
from ..functions import codecs
from ..registry import op
from ..sources.batch import TABLES, load_table as lt, register_views
from .envelope import unwrap_envelope, wrap_envelope
from . import fixture_oracles as FO

# ---------------------------------------------------------------------------
# §2.1 sources


@op(
    "scan_batch",
    tags=("parity", "source"),
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
""",
)
def scan_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 bulk snapshot scan (reference: 256-worker s5cmd S3 copy,
    .dl/mainnet/s5cmd.sh:12-15): native parallel parquet scan with the
    filter pushed into the reader and only 5 of 16 columns read. At 100 TB
    this plans one task per ~128 MB split — scan parallelism is free."""
    li = lt(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@op(
    "init_config",
    tags=("parity", "source"),
    oracle="SELECT 'documents' AS table_name, COUNT(*) AS n_rows FROM documents\n"
    + "".join(
        f"UNION ALL SELECT '{t}', COUNT(*) FROM {t}\n"
        for t in TABLES
        if t not in ("documents", "events")
    ),
)
def init_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 `init`: bootstrap the catalog — register every table as a view and
    prove each is queryable (the Spark analog of indexer_init_configs writing
    config/genesis/keys, borealis-indexer/src/main.rs:1252-1256)."""
    register_views(spark, sf_dir)
    out = None
    for t in TABLES:
        if t == "events":  # nanos-ts table counted via the loader elsewhere
            continue
        one = spark.sql(
            f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}"
        )
        out = one if out is None else out.unionAll(one)
    return out


@op("scan_subscribe", tags=("parity", "source", "streaming"), oracle=FO.subscribe_oracle)
def scan_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 core-NATS-style subscription: streaming scan paced one file per
    trigger (the 10 s poll loop, borealis-consumer/src/main.rs:618-632);
    every message is delivered exactly once to the foreachBatch 'callback'."""
    from ..streaming.pipeline import run_pipeline, shared_stream_source

    base = scratch_dir(prefix="aispark_sub_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt, dedup=False)
    out = spark.read.parquet(sink_d)
    return out.groupBy("sequence_id").agg(F.count("*").alias("n_delivered"))


@op("scan_backfill_mode", tags=("parity", "source", "streaming"), oracle=FO.backfill_oracle)
def scan_backfill_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 await-synced gating: Trigger.AvailableNow drains the whole backlog
    then stops (WaitForFullSync, configs.rs:163-180) — verified by the sink
    holding every height after one bounded run."""
    from ..streaming.pipeline import run_pipeline, shared_stream_source

    base = scratch_dir(prefix="aispark_backfill_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt, available_now=True)
    out = spark.read.parquet(sink_d)
    return out.agg(
        F.count("*").alias("n_rows"),
        F.min("sequence_id").alias("min_height"),
        F.max("sequence_id").alias("max_height"),
        (F.max("sequence_id") - F.min("sequence_id") + 1 == F.count("*")).alias(
            "backlog_fully_drained"
        ),
    )


# ---------------------------------------------------------------------------
# §2.2 projections


@op("project_unwrap", tags=("parity", "envelope"), oracle=FO.unwrap_oracle)
def project_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: envelope → typed StreamerMessage via from_json against the
    explicit schema (borealis-consumer/src/main.rs:260-286); emits the
    recovered keys (consumer's project-keys output, main.rs:291-296)."""
    blocks = blocks_df(spark, FIXTURE_BLOCKS)
    return unwrap_envelope(wrap_envelope(blocks)).select(
        "sequence_id",
        F.col("block.header.hash").alias("block_hash"),
        F.col("block.author").alias("author"),
        F.size("shards").alias("n_shards"),
    )


@op(
    "project_reencode",
    tags=("parity", "envelope", "codec"),
    oracle=FO.reencode_oracle,
)
def project_reencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: dual re-encode of each sub-entity — JSON value AND CBOR bytes
    (the serde_json::to_value + cbor::to_vec pairs, borealis-indexer/src/
    main.rs:477-493). JSON stays JVM-side; CBOR is the Arrow-batched UDF.
    The oracle re-derives every length from the fixture dicts via a
    schema-driven to_json mirror + the pure-Python CBOR codec."""
    blocks = blocks_df(spark, FIXTURE_BLOCKS)
    header_json = F.to_json(F.col("block.header"))
    return blocks.select(
        F.col("block.header.height").alias("sequence_id"),
        F.length(header_json).cast("long").alias("header_json_chars"),
        F.length(codecs.udf_json_to_cbor(header_json))
        .cast("long")
        .alias("header_cbor_bytes"),
        F.length(F.to_json(F.col("block.chunks")))
        .cast("long")
        .alias("chunks_json_chars"),
    )


# ---------------------------------------------------------------------------
# §2.3 codec scalar functions over driver data (documents)


def _doc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = lt(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("j"),
    )


@op(
    "json_encode",
    tags=("parity", "codec"),
    oracle="""
SELECT doc_id,
       '{"doc_id":' || doc_id
       -- to_json's documented default (ignoreNullFields=true) OMITS null
       -- fields — a NULL lang (unidentified doc, nullstorm profile) must
       -- drop the key, not emit "lang":null
       || CASE WHEN lang IS NULL THEN ''
               ELSE ',"lang":"' || lang || '"' END
       || ',"n_chars":' || n_chars || '}'
         AS j
FROM documents
""",
)
def json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: struct → JSON text, JVM-side `to_json` (reference to_json_bytes,
    main.rs:424). Oracle rebuilds the exact byte string — field order and
    separators are part of the contract."""
    return _doc_json(spark, sf_dir)


@op(
    "json_decode",
    tags=("parity", "codec"),
    oracle="""
SELECT doc_id, lang AS lang_rt, n_chars AS n_chars_rt
FROM documents
""",
)
def json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: JSON text → typed values with an explicit schema (from_json;
    reference from_json_bytes, consumer main.rs:265-266). Encode-then-decode
    must return the source values exactly — the oracle IS the source."""
    parsed = F.from_json("j", "doc_id BIGINT, lang STRING, n_chars BIGINT")
    return _doc_json(spark, sf_dir).select(
        "doc_id",
        parsed.getField("lang").alias("lang_rt"),
        parsed.getField("n_chars").alias("n_chars_rt"),
    )


# RFC 8949 head-length rule, restated in SQL: 1 byte below 24, 2 below 2^8,
# 3 below 2^16, 5 below 2^32, 9 otherwise (doc_id/n_chars are non-negative).
_CBOR_INTLEN = """CASE WHEN {c} < 24 THEN 1 WHEN {c} < 256 THEN 2
 WHEN {c} < 65536 THEN 3 WHEN {c} < 4294967296 THEN 5 ELSE 9 END"""

_CBOR_ENCODE_ORACLE = f"""
SELECT doc_id,
       CAST(1                -- map head (2 or 3 entries, both < 24)
            + 7 + 8          -- text keys always present: "doc_id", "n_chars"
            + {_CBOR_INTLEN.format(c="doc_id")}
            -- to_json OMITS null fields, so a NULL lang contributes
            -- neither its key ("lang", 5 bytes) nor its text value
            + CASE WHEN lang IS NULL THEN 0
                   ELSE 5 + 1 + length(lang) END
            + {_CBOR_INTLEN.format(c="n_chars")}
         AS INTEGER) AS cbor_bytes
FROM documents
"""


@op("cbor_encode", tags=("parity", "codec"), oracle=_CBOR_ENCODE_ORACLE)
def cbor_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: JSON value → CBOR bytes (RFC 8949 subset, Arrow-batched UDF —
    the engine's designated Python slow path). Emits deterministic byte
    lengths per doc; exactness is proven by cbor_decode's round-trip."""
    return _doc_json(spark, sf_dir).select(
        "doc_id", F.length(codecs.udf_json_to_cbor("j")).alias("cbor_bytes")
    )


@op(
    "cbor_decode",
    tags=("parity", "codec"),
    oracle="SELECT doc_id, true AS roundtrip_ok FROM documents",
)
def cbor_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: CBOR bytes → canonical JSON → compare against a canonical
    re-encode of the source (sorted keys both sides — CBOR map order is not
    canonical, SURVEY.md §7). Every row must round-trip exactly."""
    docs = _doc_json(spark, sf_dir)
    rt = codecs.udf_cbor_to_json(codecs.udf_json_to_cbor("j"))
    canon = F.to_json(
        F.from_json("j", "doc_id BIGINT, lang STRING, n_chars BIGINT")
    )

    @F.pandas_udf(BooleanType())
    def same_json(a: pd.Series, b: pd.Series) -> pd.Series:
        import json

        return pd.Series(
            [json.loads(x) == json.loads(y) for x, y in zip(a, b)]
        )

    return docs.select(
        "doc_id", same_json(rt, canon).alias("roundtrip_ok")
    )


_COMPRESS_ORACLE = f"""
SELECT doc_id,
       codec,
       CAST(octet_length(encode(text)) AS INTEGER) AS raw_bytes,
       TRUE AS roundtrip_ok
FROM documents
CROSS JOIN (VALUES {", ".join("('" + c + "')" for c in sorted(codecs.CODECS))})
  AS codecs(codec)
"""


@op("compress_roundtrip", tags=("parity", "codec"), oracle=_COMPRESS_ORACLE)
def compress_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/C7 compress/decompress over every registered codec — ZLIB,
    LZ4F and ZSTD, the real wire formats (zlib streams, LZ4 and Zstd
    frames; engine: `codecs.wire_udf`; the reference uses the
    `lzzzz`/`zstd` crates, main.rs:369-370; parquet-zstd covers
    compression at rest). One row per (doc, codec): exact byte-level
    round-trip through compress→decompress. Compressed sizes are
    codec-build-dependent and live in the bench/debug surface, not here —
    the CHECKED contract is lossless round-trip over real payload bytes."""
    docs = lt(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("raw")
    )
    out = None
    for codec in sorted(codecs.CODECS):
        part = docs.select(
            "doc_id",
            F.lit(codec).alias("codec"),
            F.length("raw").alias("raw_bytes"),
            (
                codecs.make_decompress_udf(codec)(
                    codecs.make_compress_udf(codec)(F.col("raw"))
                )
                == F.col("raw")
            ).alias("roundtrip_ok"),
        )
        out = part if out is None else out.unionAll(part)
    return out


# ---------------------------------------------------------------------------
# §2.4 sinks


@op("sink_publish", tags=("parity", "sink", "streaming"), oracle=FO.publish_oracle)
def sink_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 at-least-once publish: foreachBatch appends each micro-batch to a
    subject-keyed topic dir (the engine's bus abstraction); Spark task retry
    + idempotent replace of the batch replaces the reference's infinite
    500 ms retry loop (main.rs:388-401). Emits per-subject publish counts."""
    from ..streaming.pipeline import (
        read_block_stream,
        shared_stream_source,
        start_drained,
        stream_session,
    )

    base = scratch_dir(prefix="aispark_pub_")
    topic, ckpt = (os.path.join(base, d) for d in ("topic", "ckpt"))
    src = shared_stream_source(spark)
    env = wrap_envelope(read_block_stream(stream_session(spark), src), compression=None)

    def publish(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").partitionBy("subject").parquet(topic)

    start_drained(
        env.writeStream.foreachBatch(publish)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    return (
        spark.read.parquet(topic)
        .groupBy("subject")
        .agg(
            F.count("*").alias("n_published"),
            F.countDistinct("sequence_id").alias("n_unique"),
        )
    )


@op("sink_durable", tags=("parity", "sink", "streaming"), oracle=FO.durable_log_oracle)
def sink_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 JetStream-style durable log: file-backed, deduplicated, replayable
    sink — height-bucketed parquet written through the checkpointed pipeline;
    re-reading it is the replay path. Emits per-bucket retention stats."""
    from ..streaming.pipeline import run_pipeline, shared_stream_source

    base = scratch_dir(prefix="aispark_durable_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt, dedup=True)
    return (
        spark.read.parquet(sink_d)
        .groupBy("height_bucket")
        .agg(
            F.count("*").alias("n_messages"),
            F.min("sequence_id").alias("first_height"),
            F.max("sequence_id").alias("last_height"),
        )
    )


@op("sink_console", tags=("parity", "sink"), oracle=FO.console_oracle)
def sink_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 console/log sink: the key/metadata projection the reference logs
    per message (main.rs:456-461) — returned as the loggable frame (the
    driver prints it; in streaming mode this is writeStream.format('console'))."""
    blocks = blocks_df(spark, FIXTURE_BLOCKS)
    return blocks.select(
        F.col("block.header.height").alias("block_height"),
        F.col("block.header.hash").alias("block_hash"),
    )


# ---------------------------------------------------------------------------
# §2.5 ordering / replay


@op("order_by_height", tags=("parity", "streaming"), oracle=FO.order_by_height_oracle)
def order_by_height(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 strict height order: monotonicity proof — each row carries the
    delta to its predecessor; all deltas must be +1 (the guarantee the
    reference gets from its single-threaded channel, main.rs:365).

    Scale shape (NOT a global lag window): heights bucket into
    HEIGHT_BUCKET_BLOCKS ranges — the durable sink's partition key — so the
    lag window partitions BY BUCKET (parallel, bounded state), and the only
    cross-bucket state is one (bucket, max_height) row per bucket: the
    bucket-min row's predecessor is the previous bucket's max, checked via
    a lag over that tiny per-bucket aggregate and broadcast back. An
    unbounded stream keeps exactly one scalar per 100k-block bucket."""
    from ..streaming.pipeline import height_bucket_expr

    env = wrap_envelope(blocks_df(spark, FIXTURE_BLOCKS), compression=None)
    seqs = env.select("sequence_id", height_bucket_expr().alias("bucket"))
    in_bucket = W.partitionBy("bucket").orderBy("sequence_id")
    local = seqs.withColumn("prev_in_bucket", F.lag("sequence_id").over(in_bucket))
    bounds = seqs.groupBy("bucket").agg(F.max("sequence_id").alias("bucket_max"))
    # one row per 100k-block bucket: the window below is over O(days) rows
    prev_bounds = bounds.select(
        "bucket",
        F.lag("bucket_max").over(W.orderBy("bucket")).alias("prev_bucket_max"),
    )
    return (
        local.join(F.broadcast(prev_bounds), "bucket")
        .select(
            "sequence_id",
            F.coalesce(
                F.col("sequence_id")
                - F.coalesce("prev_in_bucket", "prev_bucket_max"),
                F.lit(1),
            ).alias("delta"),
        )
    )


@op("replay_all", tags=("parity", "streaming"), oracle=FO.replay_oracle)
def replay_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 DeliverPolicy::All instant replay: materialize the durable log
    once, then re-read it in full and from an arbitrary height (the
    BlockHeight sync mode, e.g. Aurora genesis 34834053) — partition pruning
    on height_bucket makes ranged replay a metadata operation at 100 TB."""
    from ..streaming.pipeline import run_pipeline, shared_stream_source

    base = scratch_dir(prefix="aispark_replayall_")
    sink_d, ckpt = (os.path.join(base, d) for d in ("sink", "ckpt"))
    src = shared_stream_source(spark)
    run_pipeline(spark, src, sink_d, ckpt)
    log = spark.read.parquet(sink_d)
    full = log.agg(F.count("*").alias("n")).first()["n"]
    mid = log.agg(F.min("sequence_id")).first()[0] + 24
    ranged = log.filter(F.col("sequence_id") >= mid)
    return ranged.agg(
        F.lit(full).alias("n_full_replay"),
        F.count("*").alias("n_ranged_replay"),
        F.min("sequence_id").alias("ranged_start"),
    )


# The round-trip proof: every column here is computed from the ROUND-TRIPPED
# data but the oracle reads the ORIGINAL parquet — so a hash match proves the
# format preserved record boundaries (n_docs), every key (min/max doc_id),
# and the text content itself, both code-point-exactly (text_chars) and
# byte-exactly (min/max md5 of the UTF-8 stream; Spark md5(string) and
# DuckDB md5(VARCHAR) both hash the UTF-8 encoding — same convention as the
# dedup family). The edge fuzz profile (embedded newlines/quotes/CRLF,
# empty and whitespace-only docs) killed the r3 version of scan_csv, which
# never touched round-tripped `text` and read with the default
# one-record-per-line parser.
_DOC_AGG_ORACLE = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       CAST(SUM(length(text)) AS BIGINT) AS text_chars,
       MIN(md5(text)) AS text_md5_lo, MAX(md5(text)) AS text_md5_hi
FROM documents
GROUP BY lang
"""


def _doc_roundtrip_agg(back: DataFrame) -> DataFrame:
    """The shared round-trip aggregate over a scanned-back documents frame."""
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min(F.md5("text")).alias("text_md5_lo"),
        F.max(F.md5("text")).alias("text_md5_hi"),
    )


@op("scan_jsonl", tags=("parity", "source", "format"), oracle=_DOC_AGG_ORACLE)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round trip: write the documents table as JSONL,
    scan it back with an EXPLICIT schema (never inferSchema — the
    reference's wire schema is fixed at compile time, SURVEY.md §1.1), and
    aggregate. The oracle runs on the original parquet, so a hash match
    proves the format round trip is lossless — including a per-lang md5
    checksum of the round-tripped text itself. JSONL is the reference's
    debug wire format (serde_json, borealis-indexer/src/main.rs:424)."""
    docs = lt(spark, sf_dir, "documents")
    out = scratch_dir(prefix="aispark_jsonl_")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    return _doc_roundtrip_agg(back)


@op("scan_csv", tags=("parity", "source", "format"), oracle=_DOC_AGG_ORACLE)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round trip with explicit schema + header; same lossless-
    round-trip oracle (incl. text md5 checksums) as scan_jsonl. CSV is the
    lowest-common-denominator bulk-ingest format for S6-style backfills.

    Real corpus text forces the full quoting machinery (fuzz `edge`
    profile, which killed the r3 default-options version — a doc with an
    embedded newline parsed as multiple records):
    - ``multiLine`` on read: documents contain literal \\n / \\r\\n, so a
      record is NOT a physical line; the writer quotes such fields and the
      reader must honor quoted newlines. (On a cluster, multiLine makes a
      CSV *file* the split unit rather than a line range — fine here, CSV
      ingest at scale should shard into many files anyway.)
    - ``ignoreLeading/TrailingWhiteSpace=False`` on BOTH sides: the writer
      defaults to trimming unquoted fields, silently corrupting
      whitespace-only or padded docs.
    - ``nullValue='\\\\N'`` sentinel on both sides: with the default (empty
      string) sentinel, an empty document reads back NULL. The one residual
      ambiguity of the format: a document whose text is the literal
      sentinel would read back NULL — inherent to CSV null encoding.
    """
    docs = lt(spark, sf_dir, "documents")
    out = scratch_dir(prefix="aispark_csv_")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .csv(out)
    )
    back = (
        spark.read.schema(docs.schema)
        .option("header", True)
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .csv(out)
    )
    return _doc_roundtrip_agg(back)


_N_CORRUPT_PLANTED = 7

_CORRUPT_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
UNION ALL
SELECT '__corrupt__', {_N_CORRUPT_PLANTED}, 0
"""


@op("scan_jsonl_corrupt_tolerant", tags=("parity", "source", "format"), oracle=_CORRUPT_ORACLE)
def scan_jsonl_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest of a dirty JSONL feed: the documents table is
    written as JSONL, {_N} deterministic malformed lines are planted, and
    the scan-back uses the explicit schema plus a `_corrupt_record` column
    — good rows aggregate per lang exactly as the clean round trip, bad
    rows are quarantined and COUNTED under the '__corrupt__' sentinel
    rather than killing the job (FAILFAST) or silently vanishing
    (DROPMALFORMED). At 100 TB a feed WILL contain garbage; the corrupt
    count is the ingest health metric, and the raw `_corrupt_record` text
    is what lands in the dead-letter sink. The oracle restates good rows
    from the original parquet + the planted count, so a hash match proves
    tolerance loses nothing and quarantines everything."""
    # Round-trip ONLY the fields the aggregate needs (doc_id, lang,
    # n_chars): ints and a plain-ASCII tag serialize to standard JSON on
    # any writer, so the corrupt count can never be polluted by an
    # unrelated document column with awkward serialization (NaN doubles,
    # raw control chars) — ADVICE r3.
    docs = lt(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = scratch_dir(prefix="aispark_dirty_")
    docs.write.mode("overwrite").json(out)
    # Plant the malformed lines with plain file I/O — they are driver-side
    # string constants, and the old createDataFrame(7 rows).coalesce(1)
    # .write.text() route cost ~4 s per call: the 7-row local relation
    # parallelizes to defaultParallelism pickled partitions and coalesce(1)
    # funnels all of them through ONE task that starts a Python worker per
    # parent partition serially. Identical bytes either way (the text
    # writer emits one line per row); the tolerant-scan path under test is
    # untouched.
    corrupt = [f'{{"doc_id": BROKEN-{i}' for i in range(_N_CORRUPT_PLANTED)]
    with open(os.path.join(out, "corrupt-planted.txt"), "w") as fh:
        fh.write("\n".join(corrupt) + "\n")
    schema = docs.schema.add("_corrupt_record", "string")
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        # Spark forbids predicates on ONLY the corrupt column over raw
        # files; localCheckpoint materializes the parse so the dead-letter
        # split below is an ordinary filter (and the file is read once).
        .localCheckpoint(eager=True)
    )
    good = (
        back.where(F.col("_corrupt_record").isNull())
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
    bad = back.where(F.col("_corrupt_record").isNotNull()).agg(
        F.count("*").alias("n_docs")
    ).select(
        F.lit("__corrupt__").alias("lang"),
        "n_docs",
        F.lit(0).cast("long").alias("total_chars"),
    )
    return good.unionAll(bad)


scan_jsonl_corrupt_tolerant.__doc__ = scan_jsonl_corrupt_tolerant.__doc__.replace(
    "{_N}", str(_N_CORRUPT_PLANTED)
)


_BINFILES_ORACLE = """
SELECT COALESCE(lang, 'und') AS lang,
       COUNT(*) AS n_blobs,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % 20 = 0 AND strlen(text) > 0
GROUP BY COALESCE(lang, 'und')
"""


@op("scan_binary_files", tags=("parity", "source", "format", "multimodal"), oracle=_BINFILES_ORACLE)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via Spark's `binaryFile` source — how
    raw media objects (images, audio, model checkpoints) enter the engine
    when they arrive as one blob per object-store key rather than rows in
    parquet: a sample of documents (every 20th) is exported as individual
    `<lang>_<doc_id>.bin` files, scanned back as (path, length, content)
    records, and the id/lang recovered from the path with JVM regex. The
    aggregate proves byte-exact round trip per language (blob bytes are
    the UTF-8 encoding of text; the oracle counts them with DuckDB's
    byte-level strlen — code-point LENGTH undercounts on non-ASCII, a
    coupling the unicode fuzz profile exposed).

    Scale notes: binaryFile parallelizes across files (each task reads
    whole blobs — the right unit for media), and the first thing a real
    pipeline does is exactly what this op's shape implies: compact
    millions of small blobs INTO parquet binary columns
    (multimodal_meta's layout) so later passes scan columnar instead of
    per-object. The sample cut keeps the files-per-test bounded.

    ZERO-BYTE blobs are excluded by contract: Spark's binaryFile file
    listing silently skips zero-length files, so an empty object (a
    failed upload — guaranteed in any large ingest) is INVISIBLE to this
    source (fuzz edge profile: an empty document's 0-byte blob existed on
    disk but never appeared in the scan). Both sides therefore define the
    ingest domain as non-empty blobs; audit empty objects with a storage
    inventory, not a content scan."""
    docs = lt(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 20 == 0) & (F.length("text") > 0)
    )
    # Blob export runs DISTRIBUTED: each task writes its own partition's
    # files (tmp + atomic rename, so re-runs are idempotent) — the r3
    # collect-loop funneled every blob through the driver, exactly the
    # bottleneck this op warns against (VERDICT r3 #5). Requires the
    # executors and the scan-back to share a filesystem — true in local
    # mode and on any cluster whose sinks live on shared storage, the same
    # contract every file sink in this engine already assumes. Each call
    # exports to its own fresh directory, so no stale .bin file from an
    # earlier run or a concurrent call can join the scan.
    out = scratch_dir(prefix="aispark_blobs_")

    def _write_blobs(rows) -> None:
        for r in rows:
            # a doc with no language id still has bytes to ingest: encode
            # the missing lang as BCP-47 'und' in the object key —
            # f-stringing None would write "None_<id>.bin", which the
            # [a-z]+ path regex then mis-parses as lang "one"
            # (nullstorm:141 kill; no real lang code collides with 'und')
            path = os.path.join(
                out, f"{r['lang'] if r['lang'] is not None else 'und'}_{r['doc_id']}.bin"
            )
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(r["text"].encode("utf-8"))
            os.replace(tmp, path)

    docs.select("doc_id", "lang", "text").foreachPartition(_write_blobs)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")  # never read half-written .tmp
        .load(out)
    )
    parsed = back.select(
        F.regexp_extract(F.col("path"), r"([a-z]+)_(\d+)\.bin$", 1).alias("lang"),
        F.regexp_extract(F.col("path"), r"([a-z]+)_(\d+)\.bin$", 2)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_blobs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_BLOCKSOURCE_ORACLE = """
SELECT CAST(r AS BIGINT) AS sequence_id,
       'block.' || CAST(r AS VARCHAR) AS subject,
       CAST(1 + r % 4 AS INTEGER) AS shard_count,
       CAST(256 + (r * 37) % 1024 AS BIGINT) AS payload_bytes
FROM range(63600, 63900) t(r)
"""


@op("scan_custom_source", tags=("parity", "source", "connector"), oracle=_BLOCKSOURCE_ORACLE)
def scan_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wire connector as a first-class Spark format: a custom Python
    DataSource (`sources/blockstream.py`) registered as
    `format('australis_blocks')` and read with plain `spark.read` — the
    reference's block-archive backfill seam (its NATS/S3 ingest) expressed
    the way a Spark user expects to consume ANY source, with the height
    range split into real input partitions that scan in parallel. Rows are
    closed-form per height, so the DuckDB `range()` oracle restates the
    whole source — the connector plumbing (partition planning, options,
    schema) is what's value-checked."""
    from ..sources.blockstream import register

    register(spark)
    return (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63900)
        .option("numPartitions", 8)
        .load()
    )


@op("scan_custom_source_stream", tags=("parity", "source", "connector", "streaming"), oracle=_BLOCKSOURCE_ORACLE)
def scan_custom_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable-subscription half of the custom connector: the same
    format consumed with `readStream`, where OFFSETS ARE HEIGHTS. The
    chain head advances between three catch-up runs (63700 -> 63800 ->
    63900); each run reads the committed offset from the SHARED
    checkpoint, drains exactly the (committed, head] window, and stops —
    the reference consumer's resume-from-durable-offset loop, with
    Spark's offset log playing the durable cursor. The sink must end up
    holding every height exactly once across the three runs; the
    closed-form oracle equals the one-shot batch read, which IS the
    exactly-once-across-restarts claim."""
    from ..sources.blockstream import register
    from ..streaming.pipeline import start_drained, stream_session

    session = stream_session(spark)
    register(session)
    base = scratch_dir(prefix="aispark_blocksrc_")
    sink_d, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    for head in (63700, 63800, 63900):
        start_drained(
            session.readStream.format("australis_blocks")
            .option("start", 63600)
            .option("end", head)
            .load()
            .writeStream.format("parquet")
            .option("path", sink_d)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
        )
    return spark.read.parquet(sink_d)


_PUBLISH_SINK_ORACLE = """
SELECT CAST(r % 4 AS BIGINT) AS shard_mod,
       COUNT(*) AS n_published,
       CAST(SUM(256 + (r * 37) % 1024) AS BIGINT) AS total_payload_bytes
FROM range(63600, 63900) t(r)
GROUP BY 1
"""


@op("sink_custom_publish", tags=("parity", "sink", "connector"), oracle=_PUBLISH_SINK_ORACLE)
def sink_custom_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publisher half of the custom connector duplex: rows flow OUT
    through the same registered format via `df.write.format(
    'australis_blocks')` — each task publishes its partition as a
    deterministic JSONL object and reports a commit message; the driver-
    side `commit` promotes temp objects and writes the manifest in one
    step, so a failed job can never leave a half-published manifest (the
    two-phase commit the reference's durable publisher gets from
    JetStream acks). The op round-trips: custom-source read -> custom-sink
    publish -> re-scan the published JSONL with an explicit schema ->
    aggregate; matching the closed-form oracle proves the sink lost and
    duplicated nothing."""
    from ..sources.blockstream import register

    register(spark)
    out = scratch_dir(prefix="aispark_pub_") + "/published"
    src = (
        spark.read.format("australis_blocks")
        .option("start", 63600)
        .option("end", 63900)
        .option("numPartitions", 8)
        .load()
    )
    src.write.format("australis_blocks").option("path", out).mode("append").save()
    back = spark.read.schema(
        "sequence_id bigint, subject string, shard_count int, payload_bytes bigint"
    ).json(out + "/part-*.jsonl")
    return back.groupBy((F.col("sequence_id") % 4).alias("shard_mod")).agg(
        F.count("*").alias("n_published"),
        F.sum("payload_bytes").alias("total_payload_bytes"),
    )
