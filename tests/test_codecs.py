"""Codec unit + property tests (SURVEY.md §2.3 C1-C8, §5.3 golden round-trip).

The reference's wire formats: CBOR/JSON envelope encode (borealis-indexer/
src/main.rs:377,424), LZ4F/Zstd payload compression (main.rs:366-372),
decode on the consumer (borealis-consumer/src/main.rs:260-286).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

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
    import pytest

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
    """Cross-engine property: the self-contained LZ4F spec decoder must
    invert pyarrow's bundled real encoder on arbitrary payloads (repetition
    factor drives real match sequences and overlap copies through the
    block decoder, not just stored literals)."""
    import pyarrow as pa

    from australis_indexer_spark.functions.lz4frame import lz4f_decompress

    payload = data * (repeat + 1)
    assert lz4f_decompress(
        pa.Codec("lz4").compress(payload, asbytes=True)
    ) == payload


def test_xxh32_known_vectors():
    """xxHash32 pinned to the published test vectors (xxHash spec repo) —
    the frame checksums below are only as good as this hash."""
    from australis_indexer_spark.functions.lz4frame import xxh32

    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"abc") == 0x32D153FF


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


def test_lz4f_golden_frame_decodes():
    from australis_indexer_spark.functions.lz4frame import lz4f_decompress

    assert lz4f_decompress(_LZ4F_GOLDEN_FRAME) == _LZ4F_GOLDEN_PAYLOAD


def test_lz4f_checksums_enforced():
    import pytest

    from australis_indexer_spark.functions.lz4frame import lz4f_decompress

    bad = bytearray(_LZ4F_GOLDEN_FRAME)
    bad[-1] ^= 0xFF  # corrupt content checksum
    with pytest.raises(ValueError, match="content checksum"):
        lz4f_decompress(bytes(bad))
    bad = bytearray(_LZ4F_GOLDEN_FRAME)
    bad[14] ^= 0xFF  # corrupt header checksum byte
    with pytest.raises(ValueError, match="header checksum"):
        lz4f_decompress(bytes(bad))


def test_lz4f_roundtrip_and_wire_branch_registered():
    """The LZ4F CODECS branch always runs now: real wheel when present,
    else the self-contained frame codec — never silently absent."""
    from australis_indexer_spark.functions.lz4frame import (
        lz4f_compress,
        lz4f_decompress,
    )

    assert "LZ4F" in codecs.CODECS
    for payload in (b"", b"x", _LZ4F_GOLDEN_PAYLOAD, bytes(range(256)) * 1024):
        assert lz4f_decompress(lz4f_compress(payload)) == payload
        assert codecs.decompress(codecs.compress(payload, "LZ4F"), "LZ4F") == payload


def test_lz4f_cross_check_real_wheel():
    """When the real `lz4` wheel exists, both directions must interoperate
    with it; recorded skip otherwise (wheel not in this container)."""
    import pytest

    try:
        import lz4.frame as real
    except ImportError:
        pytest.skip("lz4 wheel absent: cross-check runs where it is installed")
    from australis_indexer_spark.functions.lz4frame import (
        lz4f_compress,
        lz4f_decompress,
    )

    payload = _LZ4F_GOLDEN_PAYLOAD * 100
    assert real.decompress(lz4f_compress(payload)) == payload
    assert lz4f_decompress(real.compress(payload)) == payload
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
    # compressed output is a standard zstd frame, magic first
    assert codecs.compress(b"abc" * 100, "ZSTD")[:4] == bytes.fromhex("28b52ffd")


def test_zstd_golden_frame():
    """The hand-built RFC 8878 raw-block golden frame decodes through the
    REGISTERED branch (whichever real libzstd backs it) — pins the wire
    bytes against both the frame-header parser and the decoder."""
    assert codecs.decompress(_ZSTD_GOLDEN_FRAME, "ZSTD") == _ZSTD_GOLDEN_PAYLOAD


def test_zstd_frame_content_size_parser():
    """The header parser reads the pledged content size for every FCS
    layout libzstd actually emits (1-byte single-segment, 2-byte biased,
    4-byte) — sweep payload sizes across the encoding breakpoints."""
    for n in (0, 1, 17, 255, 256, 300, 65536 + 255, 65536 + 256, 200_000):
        frame = codecs.compress(b"z" * n, "ZSTD")
        assert codecs._zstd_frame_content_size(frame) == n, n


def test_lz4f_cross_check_bundled_encoder():
    """Always-on interop (pyarrow bundles real lz4): the self-contained
    spec decoder must decode REAL compressed frames (match sequences,
    overlap copies — not just our own raw-block output), and the real
    decoder must accept our spec-valid frames."""
    import pyarrow as pa

    from australis_indexer_spark.functions.lz4frame import (
        lz4f_compress,
        lz4f_decompress,
    )

    payload = _LZ4F_GOLDEN_PAYLOAD * 200  # repetitive => real match sequences
    real_frame = pa.Codec("lz4").compress(payload, asbytes=True)
    assert len(real_frame) < len(payload) // 10  # actually compressed
    assert lz4f_decompress(real_frame) == payload
    assert (
        pa.Codec("lz4").decompress(
            lz4f_compress(payload), len(payload), asbytes=True
        )
        == payload
    )


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


def _sweep_value_error_only(decode, blob, corrupt_step=1):
    for end in range(len(blob)):
        try:
            decode(blob[:end])
        except ValueError:
            pass
    for i in range(0, len(blob), corrupt_step):
        bad = bytearray(blob)
        bad[i] ^= 0xFF
        try:
            decode(bytes(bad))
        except ValueError:
            pass


def test_cbor_malformed_exception_contract():
    doc = {
        "k": [1, -5, 2**70, "txt", b"\x00\xff", None, True, 3.5],
        "m": {"n": [0, -(2**70)]},
    }
    _sweep_value_error_only(codecs.cbor_loads, codecs.cbor_dumps(doc))


def test_lz4f_malformed_exception_contract():
    from australis_indexer_spark.functions.lz4frame import lz4f_decompress

    # compressible payload → the registered real encoder emits genuine
    # match sequences, so the corruption sweep exercises the block
    # decompressor's literal/match paths, not just stored blocks
    payload = bytes(range(256)) * 4 + b"A" * 512
    frame = bytes(codecs.CODECS["LZ4F"][0](payload))
    assert lz4f_decompress(frame) == payload  # sweep baseline is valid
    _sweep_value_error_only(lz4f_decompress, frame)


def test_zstd_header_malformed_exception_contract():
    frame = bytes(codecs.CODECS["ZSTD"][0](b"hello zstd frame content size"))
    # the header parser only reads the first few bytes; sweep a prefix
    _sweep_value_error_only(codecs._zstd_frame_content_size, frame[:24])


def test_cbor_nesting_depth_capped():
    """Deeply nested arrays/maps must surface as the contract's ValueError,
    not an escaping RecursionError from the recursive decoder (the
    pure-garbage property caps inputs at 300 bytes, below the ~1000-frame
    recursion limit, so CI never reached this region — round-6 review)."""
    import pytest

    from australis_indexer_spark.functions import codecs

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
    materializing gigabytes byte-by-byte and only then checking the
    pledged content size (round-6 review; the png IDAT precedent)."""
    import struct as _s
    import time as _t

    import pytest

    from australis_indexer_spark.functions import lz4frame as L

    flg = (0b01 << 6) | 0x08  # v01 + content size
    desc = bytes([flg, 4 << 4]) + _s.pack("<Q", 100)
    hdr = (
        _s.pack("<I", 0x184D2204)
        + desc
        + bytes([(L.xxh32(desc) >> 8) & 0xFF])
    )
    # one literal 'A', then offset-1 matches extended by 2000 0xFF bytes
    seq = bytes([0x1F, ord("A"), 0x01, 0x00]) + b"\xff" * 2000 + b"\x00"
    frame = hdr + _s.pack("<I", len(seq)) + seq + _s.pack("<I", 0)
    t0 = _t.time()
    with pytest.raises(ValueError, match="exceeds declared max block size"):
        L.lz4f_decompress(frame)
    assert _t.time() - t0 < 1.0, "bomb was materialized before rejection"

    # reserved block-max-size codes (0-3) are rejected up front
    bad_desc = bytes([flg, 1 << 4]) + _s.pack("<Q", 0)
    bad = (
        _s.pack("<I", 0x184D2204)
        + bad_desc
        + bytes([(L.xxh32(bad_desc) >> 8) & 0xFF])
        + _s.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="reserved block max size"):
        L.lz4f_decompress(bad)

    # an oversized UNCOMPRESSED block is rejected by the same bound
    data = bytes(range(256)) * 300  # 76,800 bytes > 64 KB
    desc2 = bytes([0b01 << 6, 4 << 4])
    hdr2 = (
        _s.pack("<I", 0x184D2204)
        + desc2
        + bytes([(L.xxh32(desc2) >> 8) & 0xFF])
    )
    frame2 = (
        hdr2
        + _s.pack("<I", len(data) | 0x80000000)
        + data
        + _s.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="exceeds declared max block size"):
        L.lz4f_decompress(frame2)
