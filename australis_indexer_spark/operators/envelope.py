"""Envelope wrap/unwrap + wire codecs (SURVEY.md §2.2 P1/P2, §2.3 C1-C8).

The reference's producer hot path (borealis-indexer/src/main.rs:357-451):
take one `StreamerMessage`, serialize the payload (JSON or CBOR), optionally
compress (LZ4F/Zstd, main.rs:366-372), wrap in a `BorealisMessage` envelope
keyed by block height (main.rs:365), encode the envelope, publish. The
consumer inverts it (borealis-consumer/src/main.rs:260-286).

Spark design:
- the *envelope* is a DataFrame of `ENVELOPE_SCHEMA` — sequence_id is a real
  column, so ordering/dedup/range-replay are Catalyst ops, not byte-peeking;
- payload serialization uses the native `to_json`/`from_json` against the
  explicit `STREAMER_SCHEMA` (JVM-side, codegen'd);
- the byte-level codecs, the CBOR wire form of the envelope
  (`to_wire`/`from_wire`) and payload compression, are the UDFs that
  `codecs.wire_udf` picks: on `get_session()` the round trip
  `wrap_envelope → to_wire → from_wire → unwrap_envelope` starts no Python
  worker.

At 100 TB: wrap/unwrap and the wire codecs are narrow per-row expressions
(no shuffle) and scale linearly with executors.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from ..fixtures import FIXTURE_BLOCKS, blocks_df
from ..functions import codecs
from . import fixture_oracles as FO
from ..registry import op
from ..schemas import ENVELOPE_SCHEMA, STREAMER_SCHEMA

DEFAULT_SUBJECT = "BlockIndex_StreamerMessages"  # reference configs.rs:66-67


def wrap_envelope(
    blocks: DataFrame,
    *,
    subject: str = DEFAULT_SUBJECT,
    msg_format: str = "JSON",
    compression: str | None = "ZLIB",
) -> DataFrame:
    """P1 `project_envelope`: msg -> (sequence_id = block.header.height,
    payload bytes), the keyed envelope of main.rs:365-376.

    The subject carries the `{subject}_{format}` suffix rule
    (borealis-consumer/src/configs.rs:93, case-sensitive)."""
    payload = F.to_json(F.struct("block", "shards")).cast("binary")
    if compression:
        payload = codecs.make_compress_udf(compression)(payload)
    return blocks.select(
        F.col("block.header.height").alias("sequence_id"),
        F.lit(f"{subject}_{msg_format}").alias("subject"),
        F.lit(msg_format).alias("msg_format"),
        F.lit(compression).alias("compression"),
        payload.alias("payload"),
    )


def unwrap_envelope(env: DataFrame, *, compression: str | None = "ZLIB") -> DataFrame:
    """P2 `project_unwrap`: envelope -> typed StreamerMessage rows
    (borealis-consumer/src/main.rs:260-286): decompress, then parse against
    the explicit schema (never inferred)."""
    payload = F.col("payload")
    if compression:
        payload = codecs.make_decompress_udf(compression)(payload)
    return env.select(
        "sequence_id",
        F.from_json(payload.cast("string"), STREAMER_SCHEMA).alias("msg"),
    ).select("sequence_id", "msg.block", "msg.shards")


# ---------------------------------------------------------------------------
# CBOR wire form of the whole envelope (C1/C2): one binary blob per message —
# what would travel on the wire / land in a message-bus sink. The map of the
# five `ENVELOPE_SCHEMA` fields in schema order, shortest heads: the bytes of
# `codecs.cbor_dumps` of the row's dict. These pandas UDFs are the fallback of
# `codecs.wire_udf`; both paths' decoders take the canonical key order only.

_FIELDS = ENVELOPE_SCHEMA.fieldNames()


@F.pandas_udf(BinaryType())
def _envelope_to_cbor(df: pd.DataFrame) -> pd.Series:
    def enc(row) -> bytes:
        return codecs.cbor_dumps(
            {
                "sequence_id": None if row.sequence_id is None else int(row.sequence_id),
                "subject": row.subject,
                "msg_format": row.msg_format,
                "compression": row.compression,
                "payload": None if row.payload is None else bytes(row.payload),
            }
        )

    return pd.Series([enc(r) for r in df.itertuples(index=False)])


def _canonical_envelope(wire: bytes | None) -> dict | None:
    if wire is None:
        return None
    env = codecs.cbor_loads(bytes(wire))
    if not isinstance(env, dict) or list(env) != _FIELDS:
        raise ValueError("from_wire: not the canonical envelope map")
    return env


# any field of a wire may be null, whatever ENVELOPE_SCHEMA says of the rows
# to_wire is given
@F.pandas_udf(StructType([StructField(f.name, f.dataType) for f in ENVELOPE_SCHEMA]))
def _cbor_to_envelope(b: pd.Series) -> pd.DataFrame:
    rows = [_canonical_envelope(x) or {} for x in b]
    # object columns: a null among the ids would make a float64 column
    return pd.DataFrame(rows, columns=_FIELDS, dtype=object)


def to_wire(env: DataFrame) -> DataFrame:
    """C1: envelope -> CBOR wire bytes (`.to_cbor()`, main.rs:377), each row
    byte-equal to `codecs.cbor_dumps` of the row's dict in schema order."""
    # the pandas UDF takes sequence_id as decimal(20,0), so Decimal or None:
    # a long column holding a null reaches pandas as float64, rounded
    encode = codecs.wire_udf("envelopeEncodeUdf", fallback=lambda s: _envelope_to_cbor(
        s.withField("sequence_id", s["sequence_id"].cast("decimal(20,0)"))))
    return env.select(
        F.col("sequence_id").alias("key"),
        encode(F.struct(*_FIELDS)).alias("wire"),
    )


def from_wire(wire: DataFrame) -> DataFrame:
    """C2: CBOR wire bytes -> envelope (`from_cbor`, consumer main.rs:263).

    Takes the canonical key order only (the `ENVELOPE_SCHEMA` order that
    `to_wire` writes): another key order, another value type, a truncated
    wire or trailing bytes fail the query. A null wire gives a row of
    nulls."""
    decode = codecs.wire_udf("envelopeDecodeUdf", fallback=_cbor_to_envelope)
    return wire.select(decode("wire").alias("env")).select("env.*")


# ---------------------------------------------------------------------------
# registered ops (fixture-backed and rows-only: the payload bytes are
# engine-specific; wire exactness is asserted in tests/test_envelope.py)


@op("project_envelope", tags=("parity", "envelope"), oracle=FO.project_envelope_oracle)
def project_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 on the golden fixture: envelope rows with compressed JSON payloads.
    The payload bytes themselves are engine-specific (JVM `to_json` layout,
    zlib framing), so the checked columns are the P1 *contract*: the key is
    the block height, the subject carries the format suffix, and the payload
    provably round-trips — decompress + parse recovers a block whose height
    equals the envelope key (`payload_ok`)."""
    env = wrap_envelope(blocks_df(spark, FIXTURE_BLOCKS))
    payload = codecs.make_decompress_udf("ZLIB")(F.col("payload"))
    parsed = F.from_json(payload.cast("string"), STREAMER_SCHEMA)
    return env.select(
        "sequence_id", "subject", "msg_format", "compression",
        (parsed.getField("block").getField("header").getField("height")
         == F.col("sequence_id")).alias("payload_ok"),
        (F.length("payload") > 0).alias("payload_nonempty"),
    )


@op("envelope_roundtrip", tags=("parity", "envelope", "codec"), oracle=FO.envelope_roundtrip_oracle)
def envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire round-trip: blocks -> envelope(zlib JSON) -> CBOR wire ->
    decode -> decompress -> from_json -> blocks'. Emits per-message key
    metadata plus `roundtrip_ok` comparing the recovered block hash/height
    and shard count against the original (all must be true)."""
    blocks = blocks_df(spark, FIXTURE_BLOCKS)
    orig = blocks.select(
        F.col("block.header.height").alias("sequence_id"),
        F.col("block.header.hash").alias("block_hash"),
        F.size("shards").alias("n_shards"),
    )
    recovered = unwrap_envelope(from_wire(to_wire(wrap_envelope(blocks)))).select(
        F.col("sequence_id"),
        F.col("block.header.hash").alias("r_hash"),
        F.size("shards").alias("r_shards"),
    )
    return (
        orig.join(recovered, "sequence_id")
        .select(
            "sequence_id",
            "block_hash",
            "n_shards",
            ((F.col("block_hash") == F.col("r_hash")) & (F.col("n_shards") == F.col("r_shards")))
            .alias("roundtrip_ok"),
        )
    )
