"""Golden-fixture wire round-trip (SURVEY.md §5.3): blocks → envelope(zlib
JSON) → CBOR wire → decode → decompress → from_json → blocks', byte-exact on
keys and structure (the encode/decode pair of borealis-indexer/src/
main.rs:357-451 and borealis-consumer/src/main.rs:260-286).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from australis_indexer_spark import session
from australis_indexer_spark.fixtures import FIXTURE_BLOCKS, blocks_df
from australis_indexer_spark.functions import codecs
from australis_indexer_spark.operators.envelope import (
    from_wire,
    to_wire,
    unwrap_envelope,
    wrap_envelope,
)
from australis_indexer_spark.registry import ensure_executor_pyfiles
from australis_indexer_spark.schemas import ENVELOPE_SCHEMA
from tests.conftest import SF_SMOKE


def test_envelope_schema_and_key(spark):
    ensure_executor_pyfiles(spark)
    blocks = blocks_df(spark, 8)
    env = wrap_envelope(blocks)
    assert [f for f in env.columns] == [
        "sequence_id", "subject", "msg_format", "compression", "payload"
    ]
    # sequence key == block height (main.rs:365)
    heights = sorted(r[0] for r in blocks.select("block.header.height").collect())
    seqs = sorted(r[0] for r in env.select("sequence_id").collect())
    assert heights == seqs
    # subject suffix rule `{subject}_{format}` (consumer configs.rs:93)
    assert env.select("subject").first()[0].endswith("_JSON")


def test_full_wire_roundtrip_identity(spark):
    ensure_executor_pyfiles(spark)
    blocks = blocks_df(spark, 8)
    back = unwrap_envelope(from_wire(to_wire(wrap_envelope(blocks))))

    def keyed(df):
        return {
            r["h"]: (r["hash"], r["n_shards"], r["n_chunks"], str(r["supply"]))
            for r in df.select(
                F.col("block.header.height").alias("h"),
                F.col("block.header.hash").alias("hash"),
                F.size("shards").alias("n_shards"),
                F.size("block.chunks").alias("n_chunks"),
                F.col("block.header.total_supply").alias("supply"),
            ).collect()
        }

    assert keyed(blocks) == keyed(back)


def test_roundtrip_op_all_ok(spark, ops):
    df = ops["envelope_roundtrip"].fn(spark, "")
    rows = df.collect()
    assert rows and all(r["roundtrip_ok"] for r in rows)


def test_gen_blocks_rejects_nonpositive_outcome_lag():
    """outcome_lag <= 0 used to silently drop EVERY receipt execution
    outcome (the due-list pop for a height runs before that height's own
    transactions register theirs), leaving callers a vacuously-empty
    outcome side; the generator now rejects the contract violation loudly
    (round-6 review). The reference defers outcomes by >= 1 block."""
    from australis_indexer_spark.fixtures import gen_blocks

    with pytest.raises(ValueError, match="outcome_lag"):
        gen_blocks(4, outcome_lag=0)
    # lag=1 (the default and the reference's shape) still yields outcomes
    blocks = gen_blocks(8, outcome_lag=1)
    n_out = sum(
        len(s.get("receipt_execution_outcomes") or [])
        for b in blocks
        for s in (b.get("shards") or [])
    )
    assert n_out > 0


# --- the CBOR wire form: both paths vs the Python encoder -------------------
#
# get_session() runs the envelope codecs as JVM UDFs (jvm/WireCodecs.java);
# a session whose JVM cannot load that class runs the pandas UDFs, which the
# `pandas` path here forces by hiding the class.

_FIELDS = ENVELOPE_SCHEMA.fieldNames()
_no_javac = session._find_javac() is None


@pytest.fixture(params=["jvm", "pandas"])
def wire_path(request, spark, monkeypatch):
    if request.param == "jvm" and _no_javac:
        pytest.skip("no JDK compiler: WireCodecs is not built")
    if request.param == "pandas":
        ensure_executor_pyfiles(spark)
        monkeypatch.setattr(codecs, "_jvm_wire_codecs", lambda: None)
    return request.param


def _wire_rows(env):
    """(the Python encoding of each envelope row, to_wire's bytes, the
    rows from_wire gives back, the envelope rows), each sorted."""
    rows = [tuple(r) for r in env.collect()]
    wires = [bytes(r.wire) for r in to_wire(env).collect()]
    back = [tuple(r) for r in from_wire(to_wire(env)).collect()]
    want = sorted(codecs.cbor_dumps(dict(zip(_FIELDS, r))) for r in rows)
    return want, sorted(wires), sorted(back, key=repr), sorted(rows, key=repr)


@pytest.mark.parametrize("compression", [None, "ZLIB", "LZ4F", "ZSTD"])
def test_wire_bytes_equal_python_encoder_on_fixture(spark, wire_path, compression):
    env = wrap_envelope(blocks_df(spark, FIXTURE_BLOCKS), compression=compression)
    want, wires, back, rows = _wire_rows(env)
    assert wires == want and len(wires) == FIXTURE_BLOCKS
    assert back == rows


def test_wire_bytes_equal_python_encoder_on_fuzz_profiles(spark, wire_path, tmp_path):
    """Envelopes from every fuzz profile's documents (text as subject and
    payload, language as format, source as compression: unicode, scraped
    web text, NULLs, empty strings), plus sequence ids on both sides of
    every CBOR head width, both ends of the long range and a null, in one
    partition (a pandas batch that mixes a null with longer ids)."""
    from tools.fuzz_differential import DATA_PROFILES, gen_dataset

    frames = []
    for i, profile in enumerate(DATA_PROFILES):
        gen_dataset(300 + i, str(tmp_path / profile), profile=profile)
        frames.append(spark.read.parquet(str(tmp_path / profile / "documents.parquet")).selectExpr(
            "doc_id AS sequence_id", "text AS subject", "lang AS msg_format",
            "source AS compression", "CAST(text AS BINARY) AS payload"))
    ids = [0, 1, 23, 24, 255, 256, 65535, 65536, 2**32 - 1, 2**32, 2**63 - 1]
    ids += [-1 - n for n in ids]
    rows = [(n, "s" * (n % 300 if n >= 0 else 0), "CBOR", None, bytes(n % 70000 if n >= 0 else 0))
            for n in ids]
    frames.append(spark.createDataFrame(
        [*rows, (None, "null id", "CBOR", None, None)],
        StructType([StructField(f.name, f.dataType) for f in ENVELOPE_SCHEMA])).coalesce(1))
    env = frames[0]
    for f in frames[1:]:
        env = env.unionByName(f)
    want, wires, back, rows = _wire_rows(env)
    assert wires == want
    assert back == rows


_ENV = {"sequence_id": 63_596, "subject": "BlockIndex_StreamerMessages_JSON",
        "msg_format": "JSON", "compression": "ZLIB", "payload": b"\x00\x01\xff" * 7}

# wires that are not the canonical envelope, and what the JVM decoder says
_NOT_ENVELOPES = [
    ("reordered keys", codecs.cbor_dumps({k: _ENV[k] for k in reversed(_FIELDS)}),
     "not the canonical envelope map"),
    ("trailing bytes", codecs.cbor_dumps(_ENV) + b"\x00", "trailing bytes"),
    ("truncated", codecs.cbor_dumps(_ENV)[:-1], "truncated wire"),
    ("text as int", codecs.cbor_dumps({**_ENV, "subject": 5}), "subject: unexpected CBOR head"),
    ("bad UTF-8", codecs.cbor_dumps({**_ENV, "msg_format": "CBOR"}).replace(b"CBOR", b"C\xffOR"),
     "msg_format: invalid UTF-8"),
    ("long overflow", codecs.cbor_dumps({**_ENV, "sequence_id": 2**63}),
     "sequence_id: integer out of range"),
    ("a sixth key", codecs.cbor_dumps({**_ENV, "extra": 1}), "not the canonical envelope map"),
]


@pytest.mark.parametrize("case,blob,message", _NOT_ENVELOPES, ids=[c[0] for c in _NOT_ENVELOPES])
def test_from_wire_fails_the_query_on_other_layouts(spark, wire_path, case, blob, message):
    df = spark.createDataFrame([(blob,)], "wire binary")
    with pytest.raises(Exception) as e:
        from_wire(df).collect()
    if wire_path == "jvm":
        assert f"IllegalArgumentException: from_wire: {message}" in str(e.value)


def test_from_wire_null_wire_gives_nulls(spark, wire_path):
    df = spark.createDataFrame([(None,), (codecs.cbor_dumps(_ENV),)], "wire binary")
    got = sorted((tuple(r) for r in from_wire(df).collect()), key=repr)
    assert got == sorted([(None,) * 5, tuple(_ENV.values())], key=repr)


@pytest.mark.skipif(_no_javac, reason="no JDK compiler: WireCodecs is not built")
def test_jvm_envelope_decoder_agrees_with_cbor_loads_on_malformed_sweeps(spark):
    """Every truncated prefix and single-byte corruption of three wires,
    through the driver-side static `WireCodecs.decodeEnvelope` (no Spark
    job): it raises only IllegalArgumentException, exactly when
    `codecs.cbor_loads` fails or gives anything but the canonical envelope,
    and otherwise gives what `cbor_loads` gives."""
    from pyspark.errors import IllegalArgumentException

    decode = codecs._jvm_wire_codecs().decodeEnvelope
    kinds = (int, str, str, str, bytes)

    def oracle(blob):
        try:
            d = codecs.cbor_loads(blob)
        except ValueError:
            return None
        if not isinstance(d, dict) or list(d) != _FIELDS or not all(
                v is None or (type(v) is t and (t is not int or -2**63 <= v < 2**63))
                for v, t in zip(d.values(), kinds)):
            return None
        return tuple(d.values())

    def jvm(blob):
        try:
            return tuple(decode(blob))
        except IllegalArgumentException:
            return None

    wires = [codecs.cbor_dumps(_ENV),
             codecs.cbor_dumps({**_ENV, "sequence_id": -70_000, "compression": None}),
             codecs.cbor_dumps({**_ENV, "subject": "é" * 20, "payload": b"p" * 300})]
    for w in wires:
        for blob in (w, *(w[:end] for end in range(len(w))),
                     *(w[:i] + bytes([w[i] ^ 0xFF]) + w[i + 1:] for i in range(len(w)))):
            assert jvm(blob) == oracle(blob), blob.hex()


def test_wire_codecs_load_in_get_session(spark):
    """get_session() compiles jvm/WireCodecs.java onto the driver's class
    path, so the codec columns are JVM UDFs there, not the pandas ones."""
    if _no_javac:
        pytest.skip("no JDK compiler: WireCodecs is not built")
    assert codecs._jvm_wire_codecs() is not None


@pytest.mark.parametrize("name", ["envelope_roundtrip", "project_envelope"])
def test_codec_ops_run_no_python(spark, ops, name):
    """On get_session() the envelope ops plan no Python eval node: ZLIB
    and the CBOR envelope are JVM UDFs. (`compress_roundtrip` also runs
    LZ4F and ZSTD, which are pandas UDFs in every session;
    tests/test_codecs.py checks its ZLIB columns.)"""
    if _no_javac:
        pytest.skip("no JDK compiler: WireCodecs is not built")
    df = ops[name].fn(spark, SF_SMOKE)
    df.collect()
    assert "EvalPython" not in df._jdf.queryExecution().executedPlan().toString()
