"""PNG / WAV codec tests (functions/png.py, functions/wav.py).

The forward filters in ``_filtered_png`` are written here independently of
the decoder's inverse filters — a bug in either side breaks the roundtrip,
so the five PNG predictor paths are genuinely cross-checked, not mirrored.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from australis_indexer_spark.functions.png import (
    _paeth,
    decode_png,
    encode_png,
)
from australis_indexer_spark.functions.wav import decode_wav, encode_wav


@given(
    st.integers(1, 12),
    st.integers(1, 10),
    st.sampled_from([0, 2, 6]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, color_type, seed):
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    rows = [
        bytes((seed + y * 131 + x * 7) % 256 for x in range(w * ch))
        for y in range(h)
    ]
    got = decode_png(encode_png(w, h, rows, color_type))
    assert got == (w, h, ch, rows)


def _filtered_png(w, h, rows, ftype, ch=3):
    """Build a PNG whose every scanline uses filter `ftype`, with the
    FORWARD filter computed here (independent of the decoder)."""
    out = bytearray()
    prev = bytes(w * ch)
    for r in rows:
        line = bytearray(r)
        if ftype == 1:
            for x in range(len(r) - 1, ch - 1, -1):
                line[x] = (line[x] - r[x - ch]) & 0xFF
        elif ftype == 2:
            for x in range(len(r)):
                line[x] = (line[x] - prev[x]) & 0xFF
        elif ftype == 3:
            for x in range(len(r)):
                a = r[x - ch] if x >= ch else 0
                line[x] = (line[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:
            for x in range(len(r)):
                a = r[x - ch] if x >= ch else 0
                c = prev[x - ch] if x >= ch else 0
                line[x] = (line[x] - _paeth(a, prev[x], c)) & 0xFF
        out += bytes([ftype]) + bytes(line)
        prev = r
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_filter_types_decode(ftype):
    w, h = 7, 5
    rows = [
        bytes((y * 37 + x * 11 + ftype) % 256 for x in range(w * 3))
        for y in range(h)
    ]
    assert decode_png(_filtered_png(w, h, rows, ftype)) == (w, h, 3, rows)


def test_png_crc_enforced():
    blob = bytearray(encode_png(2, 2, [b"\x00" * 6, b"\xff" * 6]))
    blob[-6] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_png_split_idat_decodes():
    """IDAT may be split across chunks at any byte boundary."""
    w, h = 4, 3
    rows = [bytes(range(y * 12, y * 12 + 12)) for y in range(h)]
    whole = encode_png(w, h, rows)
    # re-split the single IDAT into two chunks
    sig, rest = whole[:8], whole[8:]
    (ln,) = struct.unpack_from(">I", rest, 0)
    ihdr = rest[: 12 + ln]
    rest = rest[12 + ln :]
    (ln,) = struct.unpack_from(">I", rest, 0)
    idat_body = rest[8 : 8 + ln]
    iend = rest[12 + ln :]
    mid = len(idat_body) // 2

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    split = sig + ihdr + chunk(b"IDAT", idat_body[:mid]) + chunk(
        b"IDAT", idat_body[mid:]
    ) + iend
    assert decode_png(split) == (w, h, 3, rows)


@given(
    st.integers(1, 2),
    st.sampled_from([8000, 16000, 44100]),
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n_channels, rate, samples):
    if len(samples) % n_channels:
        samples = samples[: len(samples) - len(samples) % n_channels]
    if not samples:
        samples = [0] * n_channels
    blob = encode_wav(rate, samples, n_channels)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert decode_wav(blob) == (rate, n_channels, samples)


def test_wav_tolerates_extra_chunks():
    """Real writers put LIST/INFO chunks before data — the parser walks
    chunks rather than assuming the canonical 44-byte layout."""
    blob = encode_wav(8000, [1, -2, 3])
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = blob[:fmt_end] + extra + blob[fmt_end:]
    assert decode_wav(spliced) == (8000, 1, [1, -2, 3])


def test_multimodal_decode_real_op(spark, ops):
    """The registered op end-to-end at smoke scale: PNG/WAV/JPEG/MP4/MP3
    rows carry geometry + value sums matching an independent pure-Python
    recompute of the closed-form generators (MP4 frames demuxed from a
    real box tree; MP3 lengths from a real header walk)."""
    from australis_indexer_spark.operators.multimodal import (
        _MP3_KBPS,
        _MP3_RATE,
        _real_aframes,
        _real_apad,
        _real_geom,
        _real_jblock,
        _real_pixel,
        _real_sample,
        _real_vframes,
        _real_vpixel,
    )
    from tests.conftest import SF_SMOKE

    rows = ops["multimodal_decode_real"].fn(spark, SF_SMOKE).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r["decoder"])
        d = r["doc_id"]
        w, h, n = _real_geom(d)
        if r["decoder"] == "png":
            assert (r["width"], r["height"]) == (w, h)
            expect = sum(
                _real_pixel(d, x, y, c)
                for x in range(w)
                for y in range(h)
                for c in range(3)
            )
            assert (r["n_values"], r["value_sum"]) == (w * h * 3, expect)
        elif r["decoder"] == "wav":
            assert r["n_values"] == n
            assert r["value_sum"] == sum(_real_sample(d, k) for k in range(n))
        elif r["decoder"] == "jpeg":
            assert (r["width"], r["height"]) == (w, h)
            expect = sum(
                _real_jblock(d, x // 8, y // 8)
                for x in range(w)
                for y in range(h)
            )
            assert (r["n_values"], r["value_sum"]) == (w * h, expect)
        elif r["decoder"] == "mp4-rawvideo":
            nf = _real_vframes(d)
            assert (r["width"], r["height"]) == (w, h)
            assert r["n_values"] == nf * w * h
            assert r["value_sum"] == sum(
                _real_vpixel(d, f, x, y)
                for f in range(nf)
                for x in range(w)
                for y in range(h)
            )
        else:
            assert r["decoder"] == "mp3-headers"
            nf = _real_aframes(d)
            assert (r["width"], r["height"]) == (None, None)
            assert r["n_values"] == 1152 * nf
            assert r["value_sum"] == sum(
                144 * _MP3_KBPS * 1000 // _MP3_RATE + _real_apad(d, i)
                for i in range(nf)
            )
    assert seen == {"png", "wav", "jpeg", "mp4-rawvideo", "mp3-headers"}


def test_multimodal_resize_real_op(spark, ops):
    """Nearest-neighbor resample of decoded PNGs, JPEGs AND the middle
    frame of demuxed MP4s matches an independent pure-Python recompute at
    the integer sampling positions."""
    from australis_indexer_spark.operators.multimodal import (
        _RESIZE_T,
        _real_geom,
        _real_jblock,
        _real_pixel,
        _real_vframes,
        _real_vpixel,
    )
    from tests.conftest import SF_SMOKE

    rows = ops["multimodal_resize_real"].fn(spark, SF_SMOKE).collect()
    assert rows
    codecs = set()
    for r in rows:
        codecs.add(r["codec"])
        d = r["doc_id"]
        w, h, _ = _real_geom(d)
        assert (r["src_w"], r["src_h"]) == (w, h)
        if r["codec"] == "png":
            expect = sum(
                _real_pixel(d, tx * w // _RESIZE_T, ty * h // _RESIZE_T, c)
                for tx in range(_RESIZE_T)
                for ty in range(_RESIZE_T)
                for c in range(3)
            )
        elif r["codec"] == "mp4":
            fm = _real_vframes(d) // 2
            expect = sum(
                _real_vpixel(
                    d, fm, tx * w // _RESIZE_T, ty * h // _RESIZE_T
                )
                for tx in range(_RESIZE_T)
                for ty in range(_RESIZE_T)
            )
        else:
            expect = sum(
                _real_jblock(
                    d, (tx * w // _RESIZE_T) // 8, (ty * h // _RESIZE_T) // 8
                )
                for tx in range(_RESIZE_T)
                for ty in range(_RESIZE_T)
            )
        assert r["resized_sum"] == expect
    assert codecs == {"png", "jpeg", "mp4"}


# --- baseline JPEG (functions/jpeg.py) ---------------------------------------


def _jpeg_mod():
    from australis_indexer_spark.functions import jpeg

    return jpeg


@given(st.integers(1, 4), st.integers(1, 3), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_jpeg_block_constant_exact(bw, bh, seed):
    """Images constant within each 8x8 block live in JPEG's
    exactly-representable subspace (DC-only DCT, integer coefficient under
    the all-ones quant table): the lossy codec round-trips them BIT-EXACTLY.
    This is the contract the multimodal_decode_real oracle relies on."""
    jpeg = _jpeg_mod()
    w, h = bw * 8 - seed % 5, bh * 8 - seed % 3  # include non-multiples
    rows = [
        bytes((seed + (x // 8) * 11 + (y // 8) * 23) % 256 for x in range(w))
        for y in range(h)
    ]
    got = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(w, h, rows))
    assert got == (w, h, rows)


@given(st.integers(1, 30), st.integers(1, 20), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_jpeg_arbitrary_roundtrip_tolerance(w, h, seed):
    """Arbitrary images are NOT exactly representable (forward-DCT rounding)
    but must round-trip within +/-2 per pixel at the all-ones quant table —
    the codec's honesty bound, pinned so a table/zigzag/extend bug (which
    produces garbage, not off-by-one) can never pass."""
    jpeg = _jpeg_mod()
    rows = [
        bytes((seed + y * 131 + x * 7) % 256 for x in range(w))
        for y in range(h)
    ]
    w2, h2, rows2 = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(w, h, rows))
    assert (w2, h2) == (w, h)
    for r1, r2 in zip(rows, rows2):
        assert all(abs(a - b) <= 2 for a, b in zip(r1, r2))


def test_jpeg_byte_stuffing_and_structure():
    """A stream whose entropy bytes contain 0xFF must carry the 0xFF00
    stuffing and still decode (seed 0 at 24x16 is pinned to produce one);
    container structure is real JFIF: SOI..EOI, DQT/SOF0/DHT/SOS markers."""
    import random

    jpeg = _jpeg_mod()
    rng = random.Random(0)
    w, h = 24, 16
    rows = [bytes(rng.randrange(256) for _ in range(w)) for _ in range(h)]
    blob = jpeg.encode_jpeg_gray(w, h, rows)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xe0", b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in blob
    scan = blob[blob.find(b"\xff\xda") :]
    assert b"\xff\x00" in scan, "pinned fixture must exercise byte stuffing"
    w2, h2, rows2 = jpeg.decode_jpeg_gray(blob)
    assert (w2, h2) == (w, h)
    assert all(
        abs(a - b) <= 2 for r1, r2 in zip(rows, rows2) for a, b in zip(r1, r2)
    )


@given(st.integers(1, 7), st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_jpeg_restart_markers_roundtrip(interval, seed):
    """DRI/RSTn support (ADVICE r5): a legal baseline JPEG carrying restart
    markers must decode — byte-aligned RSTn in the entropy stream, DC
    predictor reset per restart interval, modulo-8 marker sequence. The
    block-constant subspace keeps the check bit-exact, and small intervals
    at 5x3 blocks force many restarts (including the RST index wrap past
    RST7)."""
    jpeg = _jpeg_mod()
    w, h = 40, 24  # 5x3 = 15 MCUs
    rows = [
        bytes((seed + (x // 8) * 17 + (y // 8) * 29) % 256 for x in range(w))
        for y in range(h)
    ]
    blob = jpeg.encode_jpeg_gray(w, h, rows, restart_interval=interval)
    assert b"\xff\xdd" in blob, "DRI segment must be present"
    scan = blob[blob.find(b"\xff\xda") :]
    assert any(
        bytes((0xFF, 0xD0 + m)) in scan for m in range(8)
    ), "scan must carry RSTn markers"
    assert jpeg.decode_jpeg_gray(blob) == (w, h, rows)


def test_jpeg_restart_marker_out_of_sequence_rejected():
    """A restart marker with the wrong modulo-8 index means lost sync — the
    decoder must fail loudly, not resynchronize silently."""
    jpeg = _jpeg_mod()
    w, h = 40, 24
    rows = [bytes(((x // 8) * 31 + (y // 8) * 7) % 256 for x in range(w)) for y in range(h)]
    blob = bytearray(jpeg.encode_jpeg_gray(w, h, rows, restart_interval=2))
    i = blob.find(b"\xff\xd0", blob.find(b"\xff\xda"))
    assert i > 0
    blob[i + 1] = 0xD5  # RST0 -> RST5
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg.decode_jpeg_gray(bytes(blob))


def test_jpeg_standalone_markers_and_fill_bytes_parse():
    """TEM (0x01) and FF fill bytes between header segments carry NO length
    field (T.81 B.1.1.2) — the marker loop must skip them instead of
    misparsing the next two bytes as a length (ADVICE r5)."""
    jpeg = _jpeg_mod()
    w, h = 16, 8
    rows = [bytes((x // 8 * 50 + 10) % 256 for x in range(w)) for _ in range(h)]
    blob = jpeg.encode_jpeg_gray(w, h, rows)
    i = blob.find(b"\xff\xdb")  # splice before DQT
    spliced = blob[:i] + b"\xff\x01" + b"\xff\xff\xff" + blob[i:]
    assert jpeg.decode_jpeg_gray(spliced) == (w, h, rows)


def test_jpeg_decoder_rejects_non_baseline():
    """Progressive (SOF2) and multi-component streams are out of scope and
    must fail loudly, not decode garbage."""
    jpeg = _jpeg_mod()
    blob = bytearray(jpeg.encode_jpeg_gray(8, 8, [bytes(8)] * 8))
    i = blob.find(b"\xff\xc0")
    blob[i + 1] = 0xC2  # SOF0 -> SOF2
    with pytest.raises(ValueError, match="baseline"):
        jpeg.decode_jpeg_gray(bytes(blob))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg_gray(b"not a jpeg")


# --- ISO-BMFF MP4 demux (functions/mp4.py) -----------------------------------


def _mp4_mod():
    from australis_indexer_spark.functions import mp4

    return mp4


@given(st.integers(1, 12), st.integers(1, 10), st.integers(1, 7), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_mp4_roundtrip_property(w, h, nf, seed):
    """Mux → demux inverts exactly for any geometry/frame count; odd frame
    counts exercise the two-run stsc chunk plan."""
    import random

    mp4 = _mp4_mod()
    rng = random.Random(seed)
    frames = [bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(nf)]
    w2, h2, ts, dur, out = mp4.decode_mp4_rawvideo(
        mp4.encode_mp4_rawvideo(w, h, frames)
    )
    assert (w2, h2, ts, dur) == (w, h, 1000, nf * 100)
    assert out == frames


def test_mp4_structure_and_sample_tables():
    """The container is a genuine box tree: leading ftyp, mdat holds the
    raw frame bytes verbatim, and the demuxer reconstructs frames through
    stsc/stco chunk runs (3 frames → chunks of [2, 1] → two stsc runs)."""
    mp4 = _mp4_mod()
    frames = [bytes([f] * 6) for f in range(3)]
    blob = mp4.encode_mp4_rawvideo(3, 2, frames)
    assert blob[4:8] == b"ftyp" and b"moov" in blob and b"mdat" in blob
    assert b"".join(frames) in blob
    # two stsc runs: entry_count 2 right after the stsc fullbox header
    i = blob.find(b"stsc")
    assert struct.unpack_from(">I", blob, i + 8)[0] == 2
    assert mp4.decode_mp4_rawvideo(blob)[4] == frames


def test_mp4_largesize_box_parses():
    """A 64-bit largesize (size==1) mdat header must walk correctly."""
    mp4 = _mp4_mod()
    frames = [bytes(range(6))]
    blob = mp4.encode_mp4_rawvideo(3, 2, frames)
    i = blob.find(b"mdat") - 4
    (sz,) = struct.unpack_from(">I", blob, i)
    # rewrite mdat as largesize: 8 extra header bytes shift mdat body + moov
    big = blob[:i] + struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", sz + 8) + blob[i + 8 :]
    # stco offsets moved by +8: patch the single chunk offset
    j = big.find(b"stco")
    (off,) = struct.unpack_from(">I", big, j + 12)
    big = big[: j + 12] + struct.pack(">I", off + 8) + big[j + 16 :]
    assert mp4.decode_mp4_rawvideo(big)[4] == frames


def test_mp4_rejections():
    """Garbage, truncation, compressed fourccs and inconsistent sample
    tables all fail loudly instead of decoding nonsense."""
    mp4 = _mp4_mod()
    blob = mp4.encode_mp4_rawvideo(4, 3, [bytes(12), bytes(12)])
    with pytest.raises(ValueError):
        mp4.decode_mp4_rawvideo(b"not an mp4 file at all")
    with pytest.raises(ValueError):
        mp4.decode_mp4_rawvideo(blob[:40])
    with pytest.raises(ValueError, match="ftyp"):
        mp4.decode_mp4_rawvideo(blob[blob.find(b"mdat") - 4 :])
    with pytest.raises(ValueError, match="avc1"):
        mp4.decode_mp4_rawvideo(blob.replace(b"raw ", b"avc1", 1))
    # stsz count != stts count
    i = blob.find(b"stsz")
    bad = bytearray(blob)
    struct.pack_into(">I", bad, i + 12, 5)
    with pytest.raises(ValueError, match="mismatch"):
        mp4.decode_mp4_rawvideo(bytes(bad))


def test_mp4_truncated_tables_raise_valueerror():
    """A declared entry count exceeding its box body must surface as the
    module's documented ValueError, never struct.error from unpack_from
    (ADVICE r5) — callers catching ValueError are the rejection contract."""
    mp4 = _mp4_mod()
    blob = mp4.encode_mp4_rawvideo(4, 3, [bytes(12), bytes(12)])
    # stco: inflate entry_count far past the box end (same count as stts
    # is irrelevant here — stco's count is independent)
    for tag, count_off in ((b"stco", 8), (b"stsc", 8), (b"stts", 8)):
        i = blob.find(tag)
        bad = bytearray(blob)
        struct.pack_into(">I", bad, i + count_off, 10_000)
        with pytest.raises(ValueError):
            mp4.decode_mp4_rawvideo(bytes(bad))
    # variable-size stsz (fixed==0): inflating its count must also fail as
    # ValueError — but count is cross-checked against stts first, so patch
    # both and expect the bounds check to fire
    i_ts = blob.find(b"stts")
    i_sz = blob.find(b"stsz")
    bad = bytearray(blob)
    struct.pack_into(">I", bad, i_ts + 12, 10_000)  # first run's count
    struct.pack_into(">I", bad, i_sz + 8, 0)  # fixed=0 → per-sample table
    struct.pack_into(">I", bad, i_sz + 12, 10_000)  # matches stts count
    # the sample-count-vs-mdat plausibility guard (bomb defense) now fires
    # before the stsz table bounds check — either way it is a ValueError
    with pytest.raises(ValueError, match="implausible|truncated stsz"):
        mp4.decode_mp4_rawvideo(bytes(bad))


# --- MPEG-1 Layer III framing walk (functions/mp3.py) ------------------------


def _mp3_mod():
    from australis_indexer_spark.functions import mp3

    return mp3


@given(
    st.sampled_from([44100, 48000, 32000]),
    st.lists(
        st.tuples(st.sampled_from([32, 64, 128, 192, 320]), st.integers(0, 1)),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_mp3_header_walk_property(rate, specs, with_id3):
    """The walker recovers every frame's (bitrate, padding) and the exact
    slot-formula length from real packed headers, through an optional
    ID3v2 prefix and ID3v1 trailer."""
    mp3 = _mp3_mod()
    blob = mp3.encode_mp3(
        rate, specs, id3_payload=b"x" * 200 if with_id3 else None
    )
    blob += b"TAG" + bytes(125)  # ID3v1 trailer
    rate2, frames = mp3.decode_mp3_frames(blob)
    assert rate2 == rate
    assert [(b, p) for b, p, _ in frames] == specs
    assert all(
        fl == 144 * b * 1000 // rate + p for b, p, fl in frames
    )


def test_mp3_frame_lengths_are_real():
    """Pinned spot-check of the Layer III slot formula the oracle mirrors:
    128 kbps @ 44100 Hz → 417 bytes, +1 when the padding bit is set."""
    mp3 = _mp3_mod()
    assert mp3.frame_length(128, 44100, 0) == 417
    assert mp3.frame_length(128, 44100, 1) == 418
    assert mp3.frame_length(320, 32000, 0) == 1440
    blob = mp3.encode_mp3(44100, [(128, 0), (128, 1)])
    assert len(blob) == 417 + 418


def test_mp3_rejections():
    """Lost sync, truncation, mid-stream samplerate changes and non-MPEG-1
    headers fail loudly — the walker never guesses."""
    mp3 = _mp3_mod()
    blob = mp3.encode_mp3(44100, [(128, 0), (128, 0)])
    with pytest.raises(ValueError, match="sync"):
        mp3.decode_mp3_frames(b"\x00" + blob)
    with pytest.raises(ValueError, match="truncated"):
        mp3.decode_mp3_frames(blob[:-5])
    mixed = blob + mp3.encode_mp3(48000, [(128, 0)])
    with pytest.raises(ValueError, match="sample rate"):
        mp3.decode_mp3_frames(mixed)
    bad = bytearray(blob)
    bad[1] &= ~(1 << 3)  # version bits 11 -> 01 (MPEG-2 reserved)
    with pytest.raises(ValueError, match="MPEG-1"):
        mp3.decode_mp3_frames(bytes(bad))


# --- malformed-input exception contract (the ADVICE-r5 class, repo-wide) ----
#
# Same sweep as tests/test_codecs.py: every truncated prefix and every
# single-byte corruption of a real encode either decodes or raises
# ValueError — the one documented rejection type. Anything else
# (struct.error, IndexError, KeyError, zlib.error) propagates and fails.


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


def test_png_malformed_exception_contract():
    rows = [bytes((x * 7 + y * 13) & 0xFF for x in range(9 * 3)) for y in range(7)]
    _sweep_value_error_only(decode_png, encode_png(9, 7, rows, color_type=2))


def test_wav_malformed_exception_contract():
    blob = encode_wav(8000, list(range(-100, 100)), n_channels=2)
    _sweep_value_error_only(decode_wav, blob)


def test_jpeg_malformed_exception_contract():
    jpeg = _jpeg_mod()
    rows = [bytes((x * 13 + y * 7) % 256 for x in range(16)) for y in range(9)]
    blob = jpeg.encode_jpeg_gray(16, 9, rows, restart_interval=1)
    _sweep_value_error_only(jpeg.decode_jpeg_gray, blob, corrupt_step=2)


def test_mp4_malformed_exception_contract():
    mp4 = _mp4_mod()
    blob = mp4.encode_mp4_rawvideo(4, 3, [bytes(12), bytes(12)])
    _sweep_value_error_only(mp4.decode_mp4_rawvideo, blob)


def test_mp3_malformed_exception_contract():
    mp3 = _mp3_mod()
    blob = mp3.encode_mp3(44100, [(64, 0), (128, 1)], id3_payload=b"t" * 20)
    blob += b"TAG" + bytes(125)
    _sweep_value_error_only(mp3.decode_mp3_frames, blob)


def test_dimension_bombs_rejected_fast():
    """A few corrupt-but-structurally-valid bytes must not be able to
    demand a multi-GB allocation: jpeg SOF0 / png IHDR dims are capped,
    and an mp4 stts run count is sanity-checked against mdat size."""
    jpeg = _jpeg_mod()
    rows = [bytes(8)] * 8
    blob = bytearray(jpeg.encode_jpeg_gray(8, 8, rows))
    i = blob.find(b"\xFF\xC0")  # SOF0: len(2) prec(1) height(2) width(2)
    struct.pack_into(">HH", blob, i + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="exceed decoder cap"):
        jpeg.decode_jpeg_gray(bytes(blob))

    png_blob = bytearray(encode_png(4, 4, [bytes(12)] * 4, color_type=2))
    # IHDR body starts at offset 16; width/height are its first 8 bytes
    struct.pack_into(">II", png_blob, 16, 1 << 15, 1 << 15)
    body = bytes(png_blob[12:16]) + bytes(png_blob[16:29])
    struct.pack_into(">I", png_blob, 29, zlib.crc32(body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="exceed decoder cap"):
        decode_png(bytes(png_blob))

    mp4 = _mp4_mod()
    mblob = bytearray(mp4.encode_mp4_rawvideo(4, 3, [bytes(12), bytes(12)]))
    i = mblob.find(b"stts")
    struct.pack_into(">I", mblob, i + 12, 1 << 30)  # first run's sample count
    with pytest.raises(ValueError, match="implausible"):
        mp4.decode_mp4_rawvideo(bytes(mblob))


def test_png_zlib_bomb_bounded():
    """An IDAT that inflates far past the declared geometry is cut off at
    expected+1 bytes and rejected — never fully materialized."""
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb = zlib.compress(bytes(10_000_000))  # ~10 MB of zeros, ~10 KB frame

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(blob)


def _garbage_decoders():
    """Every decoder the pure-garbage properties feed. The LZ4F and Zstd
    frame decoders get each blob twice: as is, and behind the codec's magic
    number, so random bytes also reach the frame-header and block parsers."""
    from australis_indexer_spark.functions import codecs

    def frame(codec, magic=b""):
        return lambda b: codecs.decompress(magic + b, codec)

    jpeg, mp4, mp3 = _jpeg_mod(), _mp4_mod(), _mp3_mod()
    return (
        decode_png,
        decode_wav,
        jpeg.decode_jpeg_gray,
        mp4.decode_mp4_rawvideo,
        mp3.decode_mp3_frames,
        codecs.cbor_loads,
        frame("LZ4F"),
        frame("LZ4F", bytes.fromhex("04224d18")),
        frame("ZSTD"),
        frame("ZSTD", bytes.fromhex("28b52ffd")),
    )


@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_arbitrary_bytes_never_leak_wrong_exception(blob):
    """Pure-garbage property: ANY byte string either decodes or raises
    ValueError in every decoder — the sweeps above mutate valid encodes;
    this covers the rest of input space (headers that parse by luck,
    sync-word collisions, random box sizes)."""
    for decode in _garbage_decoders():
        try:
            decode(blob)
        except ValueError:
            pass


@given(st.binary(min_size=301, max_size=4096))
@settings(max_examples=60, deadline=None)
def test_large_arbitrary_bytes_never_leak_wrong_exception(blob):
    """Large-input tier of the pure-garbage property: the 300-byte cap
    above is exactly why the cbor deep-nesting RecursionError escaped CI
    (a ~1500-frame [[[...]]] needs ~1500 input bytes). Fewer examples,
    bigger inputs — covers depth-, multi-block-, and table-expansion-
    dependent regions of every decoder."""
    for decode in _garbage_decoders():
        try:
            decode(blob)
        except ValueError:
            pass


def test_png_stream_truncated_before_adler_rejected():
    """A deflate stream cut off right before its adler32 trailer yields
    exactly `expected` bytes with empty unconsumed/unused tails — only the
    decompressobj's eof flag distinguishes it from a complete stream. The
    bounded-decompress hardening initially dropped that check, silently
    skipping zlib's integrity verification (found by round-6 review)."""
    good = encode_png(3, 2, [bytes(range(9)), bytes(range(9, 18))])

    def chunks(b):
        out, i = [], 8
        while i < len(b):
            (ln,) = struct.unpack_from(">I", b, i)
            out.append((b[i + 4 : i + 8], b[i + 8 : i + 8 + ln]))
            i += 12 + ln
        return out

    cs = chunks(good)
    raw = zlib.decompress(b"".join(body for tag, body in cs if tag == b"IDAT"))
    co = zlib.compressobj()
    stream = co.compress(raw) + co.flush()

    def rebuild(idat):
        out = good[:8]
        for tag, body in cs:
            if tag == b"IDAT":
                body = idat
            out += (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )
        return out

    # control: the re-deflated full stream decodes to the same image
    assert decode_png(rebuild(stream)) == decode_png(good)
    # adler32 trailer stripped: must fail, not silently skip the check
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(rebuild(stream[:-4]))


def test_zero_dimension_media_rejected():
    """width=0 / height=0 pass any product-based pixel cap and previously
    'decoded' to degenerate output; spec-invalid geometry must be the
    codec's documented ValueError, not a downstream divide-by-zero."""
    png_blob = bytearray(encode_png(4, 4, [bytes(12)] * 4, color_type=2))
    struct.pack_into(">II", png_blob, 16, 0, 4)
    body = bytes(png_blob[12:16]) + bytes(png_blob[16:29])
    struct.pack_into(">I", png_blob, 29, zlib.crc32(body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="zero image dimension"):
        decode_png(bytes(png_blob))

    mp4 = _mp4_mod()
    blob = mp4.encode_mp4_rawvideo(0, 4, [b"", b""])
    with pytest.raises(ValueError, match="zero sample-entry dimension"):
        mp4.decode_mp4_rawvideo(blob)


def test_jpeg_cap_is_on_padded_block_geometry():
    """The decoder's `padded` buffer is sized on 8-ROUNDED dimensions, so
    the bomb cap must be too: 4097x4095 is 16,777,215 raw pixels (one
    under the cap) but 4104x4096 = 16,809,984 padded slots (over it) —
    a raw-pixel cap would admit the allocation the guard exists to stop."""
    jpeg = _jpeg_mod()
    rows = [bytes(8)] * 8
    blob = bytearray(jpeg.encode_jpeg_gray(8, 8, rows))
    i = blob.find(b"\xFF\xC0")
    struct.pack_into(">HH", blob, i + 5, 4095, 4097)  # height, width
    with pytest.raises(ValueError, match="exceed decoder cap"):
        jpeg.decode_jpeg_gray(bytes(blob))
