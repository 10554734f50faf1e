"""Codec unit + property tests (SURVEY.md §2.3 C1-C8, §5.3 golden round-trip).

The reference's wire formats: CBOR/JSON envelope encode (borealis-indexer/
src/main.rs:377,424), LZ4F/Zstd payload compression (main.rs:366-372),
decode on the consumer (borealis-consumer/src/main.rs:260-286).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.errors import IllegalArgumentException

from australis_indexer_spark import session
from australis_indexer_spark.functions import codecs

# JSON-compatible CBOR value space (what the envelope carries)
_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(),  # unbounded: >u64 goes through RFC 8949 bignum tags
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
    st.binary(max_size=40),
)
_values = st.recursive(
    _scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=10), children, max_size=4),
    ),
    max_leaves=20,
)


@given(_values)
@settings(max_examples=200, deadline=None)
def test_cbor_roundtrip_property(value):
    out = codecs.cbor_loads(codecs.cbor_dumps(value))

    def norm(v):
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    assert norm(out) == norm(value)


def test_cbor_golden_envelope():
    """Envelope shaped like BorealisMessage::new(height, payload)
    (main.rs:365): the canonical key/payload pair survives the wire."""
    env = {
        "sequence_id": 63_596,
        "subject": "BlockIndex_StreamerMessages_CBOR",
        "msg_format": "CBOR",
        "compression": "ZSTD",
        "payload": b"\x00\x01\xff" * 7,
    }
    assert codecs.cbor_loads(codecs.cbor_dumps(env)) == env


def test_cbor_rejects_trailing_bytes():
    with pytest.raises(ValueError):
        codecs.cbor_loads(codecs.cbor_dumps(1) + b"\x00")


@given(st.binary(max_size=4096))
@settings(max_examples=50, deadline=None)
def test_compression_roundtrip_property(data):
    for codec in codecs.CODECS:
        assert codecs.decompress(codecs.compress(data, codec), codec) == data
    assert codecs.compress(data, "NONE") == data
    assert codecs.decompress(data, None) == data


@given(st.binary(max_size=2048), st.integers(0, 3))
@settings(max_examples=50, deadline=None)
def test_lz4f_spec_decoder_vs_real_encoder_property(data, repeat):
    """The registered LZ4F decoder inverts pyarrow's bundled encoder on
    arbitrary payloads (the repetition factor drives real match sequences
    and overlap copies through the block decoder, not just stored
    literals)."""
    import pyarrow as pa

    payload = data * (repeat + 1)
    assert codecs.decompress(
        pa.Codec("lz4").compress(payload, asbytes=True), "LZ4F"
    ) == payload


# A 60-byte payload whose LZ4 block was HAND-ENCODED from the public block
# spec: one sequence of 20 literals + a (offset=20, len=35) overlap match,
# then the mandatory literals-only tail — so decoding exercises the
# token/extension/match-copy path, not just stored blocks. The frame wraps
# it per the frame spec with content-size + content-checksum set. Any
# compliant LZ4F decoder (including the reference's `lzzzz`) accepts these
# exact bytes (reference wire: borealis-indexer/src/main.rs:369,
# borealis-consumer/src/main.rs:269-272).
_LZ4F_GOLDEN_PAYLOAD = b"NEAR blocks stream. " * 3
_LZ4F_GOLDEN_FRAME = bytes.fromhex(
    "04224d186c403c00000000000000381f000000ff054e45415220626c6f636b7320"
    "73747265616d2e201400105065616d2e2000000000c96561dc"
)
# The same block in a frame with a block checksum (FLG 0x74: independent
# blocks, block + content checksums, no content size); the block checksum
# sits at bytes 42-45.
_LZ4F_BLOCK_CHECKSUM_FRAME = bytes.fromhex(
    "04224d187440bd1f000000ff054e45415220626c6f636b732073747265616d2e2014"
    "00105065616d2e2090eaacd400000000c96561dc"
)
# Spec-built frames of UNCOMPRESSED blocks (bit 31 of the block size set):
# content size + content checksum, 64 KB independent blocks.
_LZ4F_STORED_FRAMES = {
    b"": bytes.fromhex("04224d186c4000000000000000000900000000055dcc02"),
    b"x": bytes.fromhex("04224d186c40010000000000000049010000807800000000ea30c42e"),
}


def _lz4f_stored_256k() -> tuple[bytes, bytes]:
    """A 256 KiB payload as four stored 64 KB blocks: the frame header
    (content size 262144) and the content checksum are the spec-built
    bytes; the blocks in between are the payload itself."""
    import struct

    payload = bytes(range(256)) * 1024
    blocks = b"".join(
        struct.pack("<I", 0x10000 | 0x80000000) + payload[o : o + 0x10000]
        for o in range(0, len(payload), 0x10000)
    )
    frame = (
        bytes.fromhex("04224d186c400000040000000000d2")
        + blocks
        + bytes(4)  # EndMark
        + bytes.fromhex("8472a095")
    )
    return payload, frame


def test_lz4f_golden_frame_decodes():
    assert codecs.decompress(_LZ4F_GOLDEN_FRAME, "LZ4F") == _LZ4F_GOLDEN_PAYLOAD
    assert (
        codecs.decompress(_LZ4F_BLOCK_CHECKSUM_FRAME, "LZ4F") == _LZ4F_GOLDEN_PAYLOAD
    )


def test_lz4f_checksums_enforced():
    bad = bytearray(_LZ4F_GOLDEN_FRAME)
    bad[-1] ^= 0xFF  # corrupt content checksum
    with pytest.raises(ValueError, match="contentChecksum"):
        codecs.decompress(bytes(bad), "LZ4F")
    bad = bytearray(_LZ4F_GOLDEN_FRAME)
    bad[14] ^= 0xFF  # corrupt header checksum byte
    with pytest.raises(ValueError, match="headerChecksum"):
        codecs.decompress(bytes(bad), "LZ4F")
    bad = bytearray(_LZ4F_BLOCK_CHECKSUM_FRAME)
    bad[42] ^= 0xFF  # corrupt block checksum
    with pytest.raises(ValueError, match="blockChecksum"):
        codecs.decompress(bytes(bad), "LZ4F")


def test_lz4f_roundtrip_and_wire_branch_registered():
    """The LZ4F CODECS branch is always registered, decodes spec-built
    stored-block frames, and round-trips payloads on both sides of the
    64 KB block size."""
    assert "LZ4F" in codecs.CODECS
    big, big_frame = _lz4f_stored_256k()
    for payload, frame in (*_LZ4F_STORED_FRAMES.items(), (big, big_frame)):
        assert codecs.decompress(frame, "LZ4F") == payload
    for payload in (b"", b"x", _LZ4F_GOLDEN_PAYLOAD, big):
        assert codecs.decompress(codecs.compress(payload, "LZ4F"), "LZ4F") == payload


def test_lz4f_cross_check_real_wheel():
    """When the real `lz4` wheel exists, both directions must interoperate
    with it; recorded skip otherwise (wheel not in this container)."""
    try:
        import lz4.frame as real
    except ImportError:
        pytest.skip("lz4 wheel absent: cross-check runs where it is installed")

    payload = _LZ4F_GOLDEN_PAYLOAD * 100
    assert real.decompress(codecs.compress(payload, "LZ4F")) == payload
    assert codecs.decompress(real.compress(payload), "LZ4F") == payload
    assert real.decompress(_LZ4F_GOLDEN_FRAME) == _LZ4F_GOLDEN_PAYLOAD


# Zstd frame with a RAW block, hand-built from RFC 8878 (magic, single-
# segment frame header with 1-byte frame content size, last-block raw block
# header): compliant decoders accept it without any compression machinery.
_ZSTD_GOLDEN_PAYLOAD = b"NEAR wire parity."
_ZSTD_GOLDEN_FRAME = bytes.fromhex(
    "28b52ffd20118900004e4541522077697265207061726974792e"
)


def test_zstd_branch_always_registered():
    """The ZSTD wire branch EXECUTES in every environment: pyarrow's
    bundled libzstd (standard frames — the reference's exact wire format,
    indexer main.rs:370), with no optional wheel in front of it. r3 shipped
    this branch gated behind a wheel the container lacks, i.e. never-run
    code; this pins that it cannot regress to that state."""
    assert "ZSTD" in codecs.CODECS
    for payload in (b"", b"x", _ZSTD_GOLDEN_PAYLOAD, bytes(range(256)) * 1024):
        assert codecs.decompress(codecs.compress(payload, "ZSTD"), "ZSTD") == payload
    # every frame-content-size layout libzstd emits (1-byte single-segment,
    # 2-byte biased, 4-byte): payload sizes across the encoding breakpoints
    for n in (0, 1, 17, 255, 256, 300, 65536 + 255, 65536 + 256, 200_000):
        assert codecs.decompress(codecs.compress(b"z" * n, "ZSTD"), "ZSTD") == b"z" * n, n
    # compressed output is a standard zstd frame, magic first
    assert codecs.compress(b"abc" * 100, "ZSTD")[:4] == bytes.fromhex("28b52ffd")


def test_zstd_golden_frame():
    """The hand-built RFC 8878 raw-block golden frame decodes through the
    REGISTERED branch — pins the wire bytes against libzstd's decoder."""
    assert codecs.decompress(_ZSTD_GOLDEN_FRAME, "ZSTD") == _ZSTD_GOLDEN_PAYLOAD


def test_lz4f_cross_check_bundled_encoder():
    """Always-on interop (pyarrow bundles real lz4): the registered decoder
    reads REAL compressed frames (match sequences, overlap copies), and
    pyarrow's one-shot decoder agrees with it on a spec-built stored-block
    frame."""
    import pyarrow as pa

    payload = _LZ4F_GOLDEN_PAYLOAD * 200  # repetitive => real match sequences
    real_frame = pa.Codec("lz4").compress(payload, asbytes=True)
    assert len(real_frame) < len(payload) // 10  # actually compressed
    assert codecs.decompress(real_frame, "LZ4F") == payload
    big, big_frame = _lz4f_stored_256k()
    assert pa.Codec("lz4").decompress(big_frame, len(big), asbytes=True) == big


@pytest.mark.parametrize("codec", ["LZ4F", "ZSTD"])
def test_concatenated_frames_decode_to_joined_payloads(codec):
    """Both frame formats allow frames back to back in one stream; the
    decoder returns every frame's content, not just the first."""
    first, second = b"first frame " * 40, bytes(range(256)) * 3
    blob = codecs.compress(first, codec) + codecs.compress(second, codec)
    assert codecs.decompress(blob, codec) == first + second


@pytest.mark.parametrize("codec", ["ZLIB", "LZ4F", "ZSTD"])
def test_trailing_bytes_after_frame_rejected(codec):
    frame = codecs.compress(b"payload " * 40, codec)
    with pytest.raises(ValueError):
        codecs.decompress(frame + b"garbage!!", codec)


@pytest.mark.parametrize("codec", ["ZLIB", "LZ4F", "ZSTD"])
def test_empty_frame_rejected(codec):
    """An empty payload is not a frame (pyarrow's reader alone returns
    b"" for it)."""
    with pytest.raises(ValueError):
        codecs.decompress(b"", codec)


def test_zstd_oversized_content_size_rejected_fast():
    """A 17-byte single-segment frame that pledges 2^40 content bytes (one
    RLE block follows) is refused before any output buffer is sized, not
    answered with a terabyte allocation."""
    import time

    frame = bytes.fromhex("28b52ffde000000000000100002b000061")
    t0 = time.time()
    with pytest.raises(ValueError, match="too much memory"):
        codecs.decompress(frame, "ZSTD")
    assert time.time() - t0 < 1.0


def test_large_int_survives():
    """u128 yoctoNEAR amounts (34-digit total_supply, main.rs:152) survive
    both as strings and as RFC 8949 bignum-tagged integers."""
    v = {"total_supply": "2050206401403887985811862247311434"}
    assert codecs.cbor_loads(codecs.cbor_dumps(v)) == v
    n = 2050206401403887985811862247311434
    assert codecs.cbor_loads(codecs.cbor_dumps({"n": n, "neg": -n})) == {
        "n": n,
        "neg": -n,
    }


# --- malformed-input exception contract (the ADVICE-r5 class, repo-wide) ----
#
# Every stdlib codec in functions/ documents ONE rejection exception type:
# ValueError. These sweeps drive each decoder with every truncated prefix
# and every single-byte corruption of a real encode and let anything that
# is not a ValueError propagate as a test failure — no struct.error,
# IndexError, KeyError, or zlib.error may escape (UnicodeDecodeError is a
# ValueError subclass, so it passes by construction).


def _malformed_variants(blob):
    """Every truncated prefix and every single-byte corruption of `blob`."""
    yield from (blob[:end] for end in range(len(blob)))
    for i in range(len(blob)):
        bad = bytearray(blob)
        bad[i] ^= 0xFF
        yield bytes(bad)


def _sweep_value_error_only(decode, blob):
    for variant in _malformed_variants(blob):
        try:
            decode(variant)
        except ValueError:
            pass


# compressible payload → the registered real encoders emit genuine match
# sequences, so the corruption sweeps exercise the block decompressors'
# literal/match paths, not just stored blocks
_SWEEP_PAYLOAD = bytes(range(256)) * 4 + b"A" * 512


def _sweep_blobs(codec: str) -> list[bytes]:
    """The valid frames each codec's malformed-input sweep starts from."""
    golden = {
        "ZLIB": [],
        "LZ4F": [_LZ4F_GOLDEN_FRAME, _LZ4F_BLOCK_CHECKSUM_FRAME],
        "ZSTD": [_ZSTD_GOLDEN_FRAME],
    }[codec]
    return [codecs.compress(_SWEEP_PAYLOAD, codec), *golden]


def test_cbor_malformed_exception_contract():
    doc = {
        "k": [1, -5, 2**70, "txt", b"\x00\xff", None, True, 3.5],
        "m": {"n": [0, -(2**70)]},
    }
    _sweep_value_error_only(codecs.cbor_loads, codecs.cbor_dumps(doc))


def _sweep_codec(codec: str) -> None:
    blobs = _sweep_blobs(codec)
    assert codecs.decompress(blobs[0], codec) == _SWEEP_PAYLOAD  # sweep baseline is valid
    for blob in blobs:
        _sweep_value_error_only(lambda b: codecs.decompress(b, codec), blob)


def test_lz4f_malformed_exception_contract():
    _sweep_codec("LZ4F")


def test_zstd_malformed_exception_contract():
    _sweep_codec("ZSTD")


def test_zlib_malformed_exception_contract():
    """ZLIB keeps the one-exception contract too: `zlib.decompress` alone
    raises zlib.error on garbage and returns the payload of a stream
    followed by junk."""
    _sweep_codec("ZLIB")
    with pytest.raises(ValueError):
        codecs.decompress(b"garbage-bytes", "ZLIB")


def test_cbor_nesting_depth_capped():
    """Deeply nested arrays/maps must surface as the contract's ValueError,
    not an escaping RecursionError from the recursive decoder (the
    pure-garbage property caps inputs at 300 bytes, below the ~1000-frame
    recursion limit, so CI never reached this region — round-6 review)."""
    with pytest.raises(ValueError, match="nesting depth"):
        codecs.cbor_loads(b"\x81" * 1500 + b"\x00")
    with pytest.raises(ValueError, match="nesting depth"):
        codecs.cbor_loads(b"\xa1\x01" * 1500 + b"\x00")
    # control: realistic nesting is far below the cap
    assert codecs.cbor_loads(b"\x81" * 100 + b"\x17") == eval("[" * 100 + "23" + "]" * 100)


def test_lz4f_match_amplification_bomb_bounded():
    """A compressed block chaining max-length match sequences amplifies
    ~255x per extension byte; the decoder must fail the moment the block's
    output exceeds the BD-declared max block size (64 KB here) instead of
    materializing gigabytes and only then checking the pledged content
    size (round-6 review; the png IDAT precedent)."""
    import struct as _s
    import time as _t

    # magic + FLG v01 with content size (100) + BD 64 KB + header checksum
    hdr = bytes.fromhex("04224d1848406400000000000000cd")
    # one literal 'A', then offset-1 matches extended by 2000 0xFF bytes
    seq = bytes([0x1F, ord("A"), 0x01, 0x00]) + b"\xff" * 2000 + b"\x00"
    frame = hdr + _s.pack("<I", len(seq)) + seq + _s.pack("<I", 0)
    t0 = _t.time()
    with pytest.raises(ValueError, match="decompressionFailed"):
        codecs.decompress(frame, "LZ4F")
    assert _t.time() - t0 < 1.0, "bomb was materialized before rejection"

    # reserved block-max-size codes (0-3) are rejected up front: BD code 1,
    # content size 0, then the EndMark
    bad = bytes.fromhex("04224d18481000000000000000008e00000000")
    with pytest.raises(ValueError, match="maxBlockSize_invalid"):
        codecs.decompress(bad, "LZ4F")

    # an oversized UNCOMPRESSED block is rejected by the same bound
    data = bytes(range(256)) * 300  # 76,800 bytes > 64 KB
    hdr2 = bytes.fromhex("04224d184040c0")  # FLG v01 only, BD 64 KB
    frame2 = (
        hdr2
        + _s.pack("<I", len(data) | 0x80000000)
        + data
        + _s.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="maxBlockSize_invalid"):
        codecs.decompress(frame2, "LZ4F")


# --- the JVM codec (jvm/WireCodecs.java) -----------------------------------
#
# get_session() compiles WireCodecs onto the driver's class path and the ZLIB
# columns run it there. These tests call its static zlibCompress and
# zlibDecompress on the driver: one py4j call per blob, no Spark job. PySpark
# turns a Java IllegalArgumentException into
# pyspark.errors.IllegalArgumentException; any other Java exception arrives
# as another Python type and fails a test.

_needs_javac = pytest.mark.skipif(
    session._find_javac() is None, reason="no JDK compiler: WireCodecs is not built"
)


@pytest.fixture(scope="module")
def jvm_zlib(spark):
    """WireCodecs' static ZLIB functions (in a plain namespace: hypothesis
    probes its arguments' attributes, which a py4j class would look up in
    the JVM)."""
    from types import SimpleNamespace

    cls = codecs._jvm_wire_codecs()
    assert cls is not None, "WireCodecs did not load in get_session()'s JVM"
    return SimpleNamespace(compress=cls.zlibCompress, decompress=cls.zlibDecompress,
                           buffer_size=cls.outputBufferSize)


def _jvm_decode(jvm_zlib, blob: bytes) -> bytes | None:
    """The JVM decode of `blob`, None when it is refused."""
    try:
        return bytes(jvm_zlib.decompress(blob))
    except IllegalArgumentException:
        return None


def _py_decode(blob: bytes) -> bytes | None:
    try:
        return codecs.decompress(blob, "ZLIB")
    except ValueError:
        return None


@_needs_javac
def test_jvm_zlib_agrees_with_python_on_malformed_sweeps(jvm_zlib):
    """Every truncated prefix and single-byte corruption of the ZLIB sweep's
    stream, garbage, and the stream followed by junk: the JVM decoder raises
    only IllegalArgumentException, and it accepts exactly the variants the
    Python decoder accepts, with the same bytes."""
    (stream,) = _sweep_blobs("ZLIB")
    for variant in (*_malformed_variants(stream), b"garbage-bytes", stream + b"junk"):
        assert _jvm_decode(jvm_zlib, variant) == _py_decode(variant), variant.hex()


@_needs_javac
def test_jvm_zlib_output_buffer_size_never_negative(jvm_zlib):
    """The decoder's first output buffer stays in (0, 64 KiB] for every
    input length, also where four times the length overflows an int."""
    for n in (0, 1, 16_367, 16_368, 2**29, 2**31 - 1):
        assert 0 < jvm_zlib.buffer_size(n) <= 1 << 16, n
    assert jvm_zlib.buffer_size(2**31 - 1) == 1 << 16


@_needs_javac
@given(st.binary(max_size=2048), st.integers(0, 3))
@settings(max_examples=40, deadline=None)
def test_jvm_python_zlib_cross_decode_property(jvm_zlib, data, repeat):
    """JVM-encoded ZLIB decodes in Python and Python-encoded ZLIB decodes
    on the JVM."""
    payload = data * (repeat + 1)
    assert codecs.decompress(bytes(jvm_zlib.compress(payload)), "ZLIB") == payload
    assert _jvm_decode(jvm_zlib, codecs.compress(payload, "ZLIB")) == payload


def test_zstd_pledged_size_mismatch_frame(spark):
    """Known defect: a frame that pledges 2^31 bytes, has a window
    descriptor and ends in an empty last block. libzstd's streaming decoder
    skips the content-size check for it and returns no bytes, in pyarrow's
    reader (the ZSTD codec of every session) and in the zstd-jni that Spark
    ships alike, so moving ZSTD to the JVM would not mend it."""
    frame = bytes.fromhex("28b52ffdc0000000008000000000010000")
    assert codecs.decompress(frame, "ZSTD") == b""
    jvm = spark.sparkContext._jvm
    reader = jvm.com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        jvm.java.io.ByteArrayInputStream(frame))
    assert bytes(reader.readAllBytes()) == b""


# --- the codec columns, on both paths ---------------------------------------
#
# `session`: the columns get_session() plans (ZLIB on the JVM, LZ4F and ZSTD
# as pandas UDFs); `pandas`: a session whose JVM does not load WireCodecs,
# forced here by hiding the class.


@pytest.fixture(params=["session", "pandas"])
def column_path(request, spark, monkeypatch):
    from australis_indexer_spark.registry import ensure_executor_pyfiles

    ensure_executor_pyfiles(spark)
    if request.param == "pandas":
        monkeypatch.setattr(codecs, "_jvm_wire_codecs", lambda: None)
    return request.param


@pytest.mark.parametrize("codec", sorted(codecs.CODECS))
def test_codec_columns_match_python(spark, column_path, codec):
    """Bytes equal to the Python encoder, an exact round trip, null kept;
    on `get_session()` the ZLIB columns plan no Python eval node."""
    comp, dec = codecs.make_compress_udf(codec), codecs.make_decompress_udf(codec)
    raws = [_SWEEP_PAYLOAD, b"", b"x", None]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i int, raw binary")
    out = df.select("i", comp("raw").alias("c")).select("i", "c", dec("c").alias("d"))
    for r in out.collect():
        raw = raws[r.i]
        assert (r.c, r.d) == ((None, None) if raw is None else (codecs.compress(raw, codec), raw))
    plan = out._jdf.queryExecution().executedPlan().toString()
    on_jvm = column_path == "session" and codec == "ZLIB" and session._find_javac() is not None
    assert ("EvalPython" not in plan) == on_jvm


@pytest.mark.parametrize("codec", sorted(codecs.CODECS))
def test_codec_columns_fail_on_malformed(spark, column_path, codec):
    """A decode column over a malformed payload fails the query, never
    yielding null."""
    bad = spark.createDataFrame([(b"not a frame",)], "raw binary")
    with pytest.raises(Exception, match="IllegalArgumentException: ZLIB|ValueError"):
        bad.select(codecs.make_decompress_udf(codec)("raw")).collect()


# 64 KiB stored block, then a compressed block whose one match copies 19
# bytes from 256 bytes back, inside the first block, then "hello" as literals
_LZ4F_LINKED_FIRST = bytes(range(256)) * 256
_LZ4F_LINKED_FRAME = (
    bytes.fromhex("04224d184040c0")  # FLG: linked blocks (bit 5 clear); BD 64 KB
    + (len(_LZ4F_LINKED_FIRST) | 0x80000000).to_bytes(4, "little") + _LZ4F_LINKED_FIRST
    + (10).to_bytes(4, "little") + bytes.fromhex("0f00010050") + b"hello"
    + bytes(4)
)


def test_lz4f_linked_blocks_decode_on_both_paths(spark, column_path):
    """liblz4's default frame links its blocks: a block may copy from the
    one before. Such a frame decodes in Python and through the LZ4F column
    of either path (lz4-java 1.8.0's frame reader refuses linked blocks,
    which is one reason LZ4F stays off the JVM)."""
    want = _LZ4F_LINKED_FIRST + bytes(range(19)) + b"hello"
    assert codecs.decompress(_LZ4F_LINKED_FRAME, "LZ4F") == want
    df = spark.createDataFrame([(_LZ4F_LINKED_FRAME,)], "raw binary")
    assert df.select(codecs.make_decompress_udf("LZ4F")("raw")).first()[0] == want
