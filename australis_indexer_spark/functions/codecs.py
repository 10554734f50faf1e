"""Codec / compression scalar functions (SURVEY.md §2.3 C1-C8).

The reference serializes each envelope to CBOR or JSON
(borealis-indexer/src/main.rs:377,424) and optionally compresses the payload
with LZ4F or Zstd (main.rs:366-372), decoding on the consumer side
(borealis-consumer/src/main.rs:260-286).

Spark mapping: this module is the byte-exact Python reference of the wire
codecs. The CBOR codec is a self-contained RFC 8949 subset implementation,
so the package needs no `cbor2` dependency. The compression codecs are
library calls: zlib from the stdlib, LZ4F and Zstd frames encoded and
decoded by the liblz4 and libzstd that pyarrow (a hard dependency) bundles.
Every decoder raises ValueError, and only ValueError, on malformed input.

`make_compress_udf`/`make_decompress_udf` give the payload compression as a
column; `wire_udf` says which engine runs it. The generic JSON <-> CBOR
columns (`udf_json_to_cbor`, `udf_cbor_to_json`) stay pandas UDFs. At rest,
parquet zstd covers the reference's storage compression natively.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any

import pandas as pd
from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

import pyarrow as _pa

# ---------------------------------------------------------------------------
# Minimal CBOR (RFC 8949) — the subset the envelope/message model needs:
# unsigned/negative ints, byte strings, text strings, arrays, maps, false/
# true/null, float64. Definite lengths only; maps encode in insertion order.


def _enc_head(major: int, arg: int) -> bytes:
    if arg < 24:
        return bytes([(major << 5) | arg])
    if arg < 0x100:
        return bytes([(major << 5) | 24, arg])
    if arg < 0x10000:
        return struct.pack(">BH", (major << 5) | 25, arg)
    if arg < 0x100000000:
        return struct.pack(">BI", (major << 5) | 26, arg)
    return struct.pack(">BQ", (major << 5) | 27, arg)


def cbor_dumps(obj: Any) -> bytes:
    """C1: CBOR encode (reference `.to_cbor()`, main.rs:377)."""
    out = bytearray()
    _enc(obj, out)
    return bytes(out)


def _enc(obj: Any, out: bytearray) -> None:
    if obj is None:
        out.append(0xF6)
    elif obj is True:
        out.append(0xF5)
    elif obj is False:
        out.append(0xF4)
    elif isinstance(obj, int):
        if 0 <= obj < 1 << 64:
            out += _enc_head(0, obj)
        elif -(1 << 64) <= obj < 0:
            out += _enc_head(1, -1 - obj)
        else:
            # RFC 8949 §3.4.3 bignum (tags 2/3): u128 yoctoNEAR balances
            # (34-digit total_supply, main.rs:152) exceed the u64 head range
            n = obj if obj >= 0 else -1 - obj
            out += _enc_head(6, 2 if obj >= 0 else 3)
            b = n.to_bytes((n.bit_length() + 7) // 8 or 1, "big")
            out += _enc_head(2, len(b))
            out += b
    elif isinstance(obj, float):
        out += struct.pack(">Bd", 0xFB, obj)
    elif isinstance(obj, (bytes, bytearray)):
        out += _enc_head(2, len(obj))
        out += obj
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        out += _enc_head(3, len(b))
        out += b
    elif isinstance(obj, (list, tuple)):
        out += _enc_head(4, len(obj))
        for v in obj:
            _enc(v, out)
    elif isinstance(obj, dict):
        out += _enc_head(5, len(obj))
        for k, v in obj.items():
            _enc(k, out)
            _enc(v, out)
    else:
        raise TypeError(f"cbor: unsupported type {type(obj)!r}")


def cbor_loads(data: bytes) -> Any:
    """C2: CBOR decode (reference `BorealisMessage::from_cbor`,
    borealis-consumer/src/main.rs:263-264).

    Malformed input ALWAYS raises ValueError (the mp4.py convention,
    ADVICE r5): truncated heads surface IndexError/struct.error from the
    memoryview reads, converted here so callers can rely on one exception
    type (UnicodeDecodeError from a bad text string already IS one)."""
    try:
        val, off = _dec(memoryview(data), 0)
    except (IndexError, struct.error) as e:
        raise ValueError(f"cbor: truncated input ({e})") from e
    if off != len(data):
        raise ValueError("cbor: trailing bytes")
    return val


def _dec_arg(buf: memoryview, off: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, off
    if info == 24:
        return buf[off], off + 1
    if info == 25:
        return struct.unpack_from(">H", buf, off)[0], off + 2
    if info == 26:
        return struct.unpack_from(">I", buf, off)[0], off + 4
    if info == 27:
        return struct.unpack_from(">Q", buf, off)[0], off + 8
    raise ValueError(f"cbor: indefinite/reserved length info={info}")


_MAX_DEPTH = 512  # containers deeper than any real envelope; a ~1500-deep
# [[[...]]] otherwise escapes cbor_loads as RecursionError, violating the
# one-exception-type (ValueError) malformed-input contract


def _dec(buf: memoryview, off: int, depth: int = 0) -> tuple[Any, int]:
    if depth >= _MAX_DEPTH:
        raise ValueError("cbor: nesting depth exceeds decoder cap")
    ib = buf[off]
    off += 1
    major, info = ib >> 5, ib & 0x1F
    if major == 0:
        return _dec_arg(buf, off, info)
    if major == 1:
        n, off = _dec_arg(buf, off, info)
        return -1 - n, off
    if major == 2:
        n, off = _dec_arg(buf, off, info)
        if off + n > len(buf):
            raise ValueError("cbor: truncated byte string")
        return bytes(buf[off : off + n]), off + n
    if major == 3:
        n, off = _dec_arg(buf, off, info)
        if off + n > len(buf):
            raise ValueError("cbor: truncated text string")
        return bytes(buf[off : off + n]).decode("utf-8"), off + n
    if major == 4:
        n, off = _dec_arg(buf, off, info)
        items = []
        for _ in range(n):
            v, off = _dec(buf, off, depth + 1)
            items.append(v)
        return items, off
    if major == 5:
        n, off = _dec_arg(buf, off, info)
        d = {}
        for _ in range(n):
            k, off = _dec(buf, off, depth + 1)
            if isinstance(k, (list, dict)):
                # container keys are unhashable in the Python model; the
                # envelope subset only ever writes scalar (text) keys
                raise ValueError("cbor: container map key unsupported")
            v, off = _dec(buf, off, depth + 1)
            d[k] = v
        return d, off
    if major == 6:
        tag, off = _dec_arg(buf, off, info)
        if tag in (2, 3):  # bignum
            raw, off = _dec(buf, off, depth + 1)
            if not isinstance(raw, bytes):
                # RFC 8949 §3.4.3: bignum content MUST be a byte string
                raise ValueError("cbor: bignum tag content must be a byte string")
            n = int.from_bytes(raw, "big")
            return (n if tag == 2 else -1 - n), off
        raise ValueError(f"cbor: unsupported tag {tag}")
    if major == 7:
        if info == 20:
            return False, off
        if info == 21:
            return True, off
        if info == 22:
            return None, off
        if info == 27:
            return struct.unpack_from(">d", buf, off)[0], off + 8
        raise ValueError(f"cbor: unsupported simple value {info}")
    raise ValueError(f"cbor: unsupported major type {major} (tags not used)")


# ---------------------------------------------------------------------------
# Compression (C6/C7). zlib from the stdlib; LZ4F and ZSTD through the liblz4
# and libzstd that pyarrow bundles, in both directions: standard LZ4 frames
# (magic 0x184D2204) and Zstd frames (magic 0xFD2FB528), the reference's exact
# wire formats (borealis-indexer/src/main.rs:369-370).


def _read_frames(b: bytes, codec: str) -> bytes:
    """Decode a whole LZ4 or Zstd payload with pyarrow's streaming reader:
    the library's frame decoder checks the frame's own checksums and block
    bounds, decodes concatenated frames back to back and rejects trailing
    bytes. Malformed input raises ValueError (the mp4.py convention); the
    reader alone would return b"" for empty input."""
    if not b:
        raise ValueError(f"{codec}: empty frame")
    try:
        return _pa.CompressedInputStream(_pa.BufferReader(b), codec).read()
    except OSError as e:
        raise ValueError(f"{codec}: {e}") from e


def _zlib_decompress(b: bytes) -> bytes:
    """One whole zlib stream: malformed, empty or truncated input and
    bytes after the stream's end raise ValueError (`zlib.decompress`
    raises `zlib.error` and ignores trailing bytes)."""
    if not b:
        raise ValueError("ZLIB: empty stream")
    d = zlib.decompressobj()
    try:
        out = d.decompress(b)
    except zlib.error as e:
        raise ValueError(f"ZLIB: {e}") from e
    if not d.eof:
        raise ValueError("ZLIB: truncated stream")
    if d.unused_data:
        raise ValueError("ZLIB: trailing bytes after the stream")
    return out


CODECS: dict[str, tuple[Any, Any]] = {
    "ZLIB": (zlib.compress, _zlib_decompress),
    "LZ4F": (
        lambda b: _pa.Codec("lz4").compress(b, asbytes=True),
        lambda b: _read_frames(b, "lz4"),
    ),
    "ZSTD": (
        lambda b: _pa.Codec("zstd").compress(b, asbytes=True),
        lambda b: _read_frames(b, "zstd"),
    ),
}


def compress(data: bytes, codec: str | None) -> bytes:
    if codec is None or codec == "NONE":
        return data
    return CODECS[codec][0](data)


def decompress(data: bytes, codec: str | None) -> bytes:
    if codec is None or codec == "NONE":
        return data
    return CODECS[codec][1](data)


# ---------------------------------------------------------------------------
# Arrow-batched column functions (pandas UDFs — one call per Arrow batch)


@F.pandas_udf(BinaryType())
def udf_json_to_cbor(s: pd.Series) -> pd.Series:
    """C1 over a column: JSON text -> CBOR bytes."""
    return s.map(lambda x: None if x is None else cbor_dumps(json.loads(x)))


@F.pandas_udf(StringType())
def udf_cbor_to_json(b: pd.Series) -> pd.Series:
    """C2 over a column: CBOR bytes -> canonical JSON text (sorted keys so
    hash comparisons are stable; CBOR map order is not, SURVEY.md §7)."""
    return b.map(
        lambda x: None
        if x is None
        else json.dumps(cbor_loads(bytes(x)), sort_keys=True, separators=(",", ":"))
    )


_WIRE_CODECS = "australis_indexer_spark.jvm.WireCodecs"


def _jvm_wire_codecs():
    """``jvm/WireCodecs.java`` in the active session's JVM, or None where
    that JVM cannot load it."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    cls = getattr(sc._jvm, _WIRE_CODECS)
    return cls if isinstance(cls, JavaClass) else None


def wire_udf(java_factory: str, *, fallback):
    """Column -> Column: the UDF that ``WireCodecs.<java_factory>()``
    returns, wrapped as an unnamed Column, where the session's JVM loads
    the class; else `fallback`, a pandas UDF over this module's functions.

    This is the one place the engine of a wire codec is chosen. The JVM
    side (`jvm/WireCodecs.java`) covers ZLIB and the CBOR envelope of
    `operators/envelope.py`, with the wire bytes and the decode contract of
    this module, so the codec round trip of `blockstream` starts no Python
    worker. `get_session()` compiles the class onto the driver's class
    path; vanilla and cluster sessions do not have it, and the platform,
    not a flag, picks their pandas path. LZ4F and ZSTD are pandas UDFs in
    every session."""
    jvm = _jvm_wire_codecs()
    if jvm is None:
        return fallback
    from pyspark.sql.classic.column import Column, _to_java_column, _to_seq

    judf = getattr(jvm, java_factory)()
    sc = SparkContext._active_spark_context
    return lambda col: Column(judf.apply(_to_seq(sc, [col], _to_java_column)))


def _pandas_udf(fn):
    @F.pandas_udf(BinaryType())
    def _u(b: pd.Series) -> pd.Series:
        return b.map(lambda x: None if x is None else fn(bytes(x)))

    return _u


def make_compress_udf(codec: str):
    """Column function: `compress(·, codec)` (engine: `wire_udf`)."""
    udf = _pandas_udf(CODECS[codec][0])
    return wire_udf("zlibCompressUdf", fallback=udf) if codec == "ZLIB" else udf


def make_decompress_udf(codec: str):
    """Column function: `decompress(·, codec)` (engine: `wire_udf`);
    malformed input fails the query."""
    udf = _pandas_udf(CODECS[codec][1])
    return wire_udf("zlibDecompressUdf", fallback=udf) if codec == "ZLIB" else udf
