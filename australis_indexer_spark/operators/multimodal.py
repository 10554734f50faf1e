"""Multimodal columns (north-star: BASELINE.json).

Treat image/audio/video as opaque `binary` payload columns with a typed
metadata struct, exactly as the engine treats the reference's serialized
block payloads (SURVEY.md §1.4): bytes + schema'd header. The Spark-side
plumbing — schema, partition-preserving narrow ops, Arrow-batched
`mapInPandas` decode signature — is real and tested. PNG, WAV and (since
round 5) baseline JPEG payloads DECODE AND RESAMPLE FOR REAL via
self-contained spec codecs (functions/png.py, wav.py, jpeg.py; see
`multimodal_decode_real`, `multimodal_resize_real` — their oracles
recompute pixel/sample sums byte-blind, so matches prove the formats are
actually inverted, Huffman entropy coding included). Since round 5 the
VIDEO/AUDIO container layers are real too: MP4 payloads are genuine
ISO-BMFF files DEMULTIPLEXED box-by-box (functions/mp4.py — raw-grayscale
track, so pixel decode is exact) and MP3 payloads are genuine MPEG-1
Layer III framing streams walked header-by-header (functions/mp3.py).
The only remaining env-bound seam is entropy-coded SAMPLE BODIES
(H.264/AAC/MP3-Huffman): `decode_media(..., real=True)` raises
NotImplementedError for those, and the demuxers reject compressed
sample entries explicitly instead of pretending.

At 100 TB: payloads stay in parquet binary columns (never strings), metadata
lives beside them so filters (mime, size, dims) prune at the scan without
touching bytes; decode fans out per Arrow batch with
`spark.sql.execution.arrow.maxRecordsPerBatch` sizing the unit of work.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import op
from ..sources.batch import load_table as lt

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the multimodal table from `documents`: payload = utf-8 bytes of
    the text (stand-in for image bytes), metadata derived deterministically."""
    d = lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.when(F.col("source") == "src0", "image/png")
            .when(F.col("source") == "src1", "audio/wav")
            .otherwise("video/mp4")
            .alias("mime"),
            (64 + (F.col("doc_id") % 16) * 32).cast("int").alias("width"),
            (64 + (F.col("doc_id") % 9) * 32).cast("int").alias("height"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(df: DataFrame, *, real: bool = False) -> DataFrame:
    """Arrow-batched media decode over `mapInPandas`.

    ``real=True`` is the seam where full codec-library decoding (PIL /
    librosa / pyav) plugs in. Since round 4, PNG and WAV decode for real
    in every environment via the self-contained spec codecs
    (functions/png.py, functions/wav.py); since round 5 baseline JPEG
    does too (functions/jpeg.py — real Huffman entropy decode + IDCT),
    MP4 containers demultiplex for real (functions/mp4.py) and MP3
    framing walks for real (functions/mp3.py) — see
    `multimodal_decode_real`, whose oracle proves the decoders invert
    actual format bytes. Only entropy-coded compressed SAMPLE BODIES
    (H.264/AAC macroblocks, MP3 Huffman audio) remain env-bound behind
    this seam."""
    if real:
        raise NotImplementedError(
            "entropy-coded video/audio sample bodies (H.264/AAC, MP3 "
            "Huffman) need real codec wheels (pyav/librosa), absent in "
            "this environment; PNG, WAV, baseline JPEG, MP4 raw-video "
            "demux and MP3 framing all decode for real via "
            "multimodal_decode_real (functions/png.py, wav.py, jpeg.py, "
            "mp4.py, mp3.py)"
        )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in payloads],
                    # deterministic integer-exact mean: sum(bytes)/len as one division
                    "mean_byte": [
                        (float(sum(p)) / len(p)) if p else 0.0 for p in payloads
                    ],
                    "head_hex": [p[:8].hex() for p in payloads],
                    "decoder": "stub-deterministic",
                }
            )

    return df.mapInPandas(_decode, schema=FEATURE_SCHEMA)


@op(
    "multimodal_meta",
    tags=("northstar", "multimodal"),
    oracle="""
SELECT doc_id,
       CASE WHEN source = 'src0' THEN 'image/png'
            WHEN source = 'src1' THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       CAST(64 + (doc_id % 16) * 32 AS INTEGER) AS width,
       CAST(64 + (doc_id % 9) * 32 AS INTEGER) AS height,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata projection off the multimodal table — the scan-prunable
    columns a pipeline filters on before ever touching payload bytes."""
    m = media_table(spark, sf_dir)
    d = lt(spark, sf_dir, "documents").select("doc_id", F.sha2("text", 256).alias("payload_sha"))
    return (
        m.join(d, "doc_id")
        .select(
            "doc_id",
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.n_bytes").alias("n_bytes"),
            "payload_sha",
        )
    )


def _utf8_bytes_cte(src: str) -> str:
    """CTE chain expanding ``src`` (doc_id, text) into its exact UTF-8 byte
    stream ``bytestream(doc_id, pos, v)`` — 1-based byte positions and
    byte values — in pure SQL: per-character code points (DuckDB ``ord``),
    the RFC 3629 length classes, a running byte offset, and the closed-form
    continuation-byte arithmetic. This is what lets byte-level oracles stay
    EXACT on any text; the r3 forms cast VARCHAR→BLOB (DuckDB errors on
    non-ASCII) or equated code points with bytes — both killed by the
    unicode fuzz profile (tools/diffcheck.py --fuzz unicode:22)."""
    return f"""
chars AS (
  SELECT doc_id, p AS ci, ord(substr(text, CAST(p AS INTEGER), 1)) AS cp
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p
        FROM {src})
),
cinfo AS (
  SELECT doc_id, ci, cp,
         CASE WHEN cp < 128 THEN 1 WHEN cp < 2048 THEN 2
              WHEN cp < 65536 THEN 3 ELSE 4 END AS nb
  FROM chars
),
coff AS (
  SELECT doc_id, ci, cp, nb,
         SUM(nb) OVER (PARTITION BY doc_id ORDER BY ci
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb
           AS off
  FROM cinfo
),
bytestream AS (
  SELECT doc_id, off + j + 1 AS pos,
         CASE WHEN nb = 1 THEN cp
              WHEN j = 0 AND nb = 2 THEN 192 + cp // 64
              WHEN j = 0 AND nb = 3 THEN 224 + cp // 4096
              WHEN j = 0 AND nb = 4 THEN 240 + cp // 262144
              WHEN j = 1 AND nb = 3 THEN 128 + (cp // 64) % 64
              WHEN j = 1 AND nb = 4 THEN 128 + (cp // 4096) % 64
              WHEN j = 2 AND nb = 4 THEN 128 + (cp // 64) % 64
              ELSE 128 + cp % 64 END AS v
  FROM coff, UNNEST(generate_series(0, nb - 1)) AS t(j)
)"""


# The fake decoder's features are pure byte arithmetic over the UTF-8
# payload, reproduced bit-for-bit from the SQL byte stream; mean_byte is
# a single IEEE division of exact integers in both engines.
_DECODE_ORACLE = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_utf8_bytes_cte("docs")},
s AS (
  SELECT doc_id,
         CAST(SUM(v) AS BIGINT) AS byte_sum,
         CAST(COUNT(*) AS BIGINT) AS n_bytes,
         string_agg(CASE WHEN pos <= 8 THEN lpad(lower(hex(v)), 2, '0') END,
                    '' ORDER BY pos) AS head_hex
  FROM bytestream GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bytes, 0) AS n_bytes,
       CASE WHEN COALESCE(s.n_bytes, 0) = 0 THEN 0.0
            ELSE CAST(s.byte_sum AS DOUBLE) / s.n_bytes END AS mean_byte,
       COALESCE(s.head_hex, '') AS head_hex,
       'stub-deterministic' AS decoder
FROM docs d LEFT JOIN s USING (doc_id)
"""


@op("multimodal_decode_features", tags=("northstar", "multimodal"), oracle=_DECODE_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract path: binary payloads → mapInPandas (Arrow
    batches) → typed feature rows. The deterministic fake decoder stands in
    for the stubbed media codecs (decode_media(real=True) is the PIL/librosa
    seam), but its byte-level features are themselves oracle-checked — the
    hash match proves the Arrow plumbing delivers every payload byte
    unmangled through encode → mapInPandas → typed rows."""
    return decode_media(media_table(spark, sf_dir))


@op(
    "multimodal_resize_plan",
    tags=("northstar", "multimodal"),
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST(64 + (doc_id % 16) * 32 AS INTEGER) AS width,
         CAST(64 + (doc_id % 9) * 32 AS INTEGER) AS height
  FROM documents
)
SELECT doc_id, width, height,
       CAST(FLOOR(width  * LEAST(224.0 / width, 224.0 / height)) AS INTEGER) AS out_w,
       CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height)) AS INTEGER) AS out_h
FROM m
""",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning: aspect-preserving fit into 224x224 computed purely
    from metadata — the filter/plan step that runs BEFORE any pixel work, so
    at 100 TB the expensive decode+resample (`decode_media` seam) only sees
    rows that actually need work. The arithmetic is the oracle-checked part;
    the pixel resample itself sits behind the stubbed decoder."""
    m = media_table(spark, sf_dir)
    scale = F.least(
        F.lit(224.0) / F.col("meta.width"), F.lit(224.0) / F.col("meta.height")
    )
    return m.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.floor(F.col("meta.width") * scale).cast("int").alias("out_w"),
        F.floor(F.col("meta.height") * scale).cast("int").alias("out_h"),
    )


@op(
    "multimodal_frame_sample",
    tags=("northstar", "multimodal"),
    oracle="""
WITH v AS (
  SELECT doc_id, (5 + doc_id % 56) AS duration_s
  FROM documents
  -- the mime mapping is CASE ... ELSE 'video/mp4': an unknown (NULL)
  -- source defaults to video, but NOT IN returns NULL for NULL source
  -- and would silently drop those docs (nullstorm:141 kill)
  WHERE source IS NULL OR source NOT IN ('src0', 'src1')
)
SELECT doc_id, duration_s,
       unnest(generate_series(0, 7)) AS frame_idx,
       (unnest(generate_series(0, 7)) * duration_s) / 8.0 AS sample_ts_s
FROM v
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video rows: 8 evenly-spaced sample timestamps per
    clip (duration derived deterministically from metadata), exploded to one
    row per planned frame. The explode is narrow; the per-frame decode then
    fans out over mapInPandas exactly like `decode_media`. Filters on `mime`
    prune non-video rows at the scan."""
    v = media_table(spark, sf_dir).filter(
        F.col("meta.mime") == "video/mp4"
    ).select("doc_id", (5 + F.col("doc_id") % 56).alias("duration_s"))
    return v.select(
        "doc_id",
        "duration_s",
        # long: match the oracle's BIGINT generate_series
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(7).cast("long"))).alias(
            "frame_idx"
        ),
    ).withColumn(
        "sample_ts_s", (F.col("frame_idx") * F.col("duration_s")) / F.lit(8.0)
    )


# ---------------------------------------------------------------------------
# perceptual-hash near-duplicates


AHASH_WORDS = 4       # 64-bit signature as 4 x 16-bit words (the LSH bands)
AHASH_HAM_T = 3       # exhaustive by pigeonhole: <=3 differing bits over 4
#                       words forces at least one word to match exactly

_AHASH_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("w0", T.LongType()),
        T.StructField("w1", T.LongType()),
        T.StructField("w2", T.LongType()),
        T.StructField("w3", T.LongType()),
    ]
)


def ahash_signatures(df: DataFrame) -> DataFrame:
    """64-bit average-hash over each payload's byte stream, Arrow-batched.

    Classic aHash, with the byte stream standing in for the pixel grid
    (media decode is the documented stub seam, multimodal.py:79): split the
    stream into 64 contiguous blocks, set bit p iff block p's mean exceeds
    the global mean. The threshold is evaluated as the PURE-INTEGER cross
    comparison ``sum_p * n > total * cnt_p`` — no float ever enters the
    signature, which is what lets a SQL oracle reproduce it bit-for-bit.
    Payloads shorter than 64 bytes carry no stable signature and are
    dropped. At scale the input arrives pre-partitioned from many files,
    so the mapInPandas fans out without any repartition here."""
    import numpy as np

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("doc_id", "w0", "w1", "w2", "w3")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(b)
                if n < 64:
                    continue
                blk = (np.arange(n) * 64) // n
                # bincount(weights=...) returns float64; byte sums stay far
                # below 2^53 so the cast back to int64 is exact
                sums = np.bincount(blk, weights=b, minlength=64).astype(np.int64)
                cnts = np.bincount(blk, minlength=64).astype(np.int64)
                bits = sums * n > int(b.sum()) * cnts
                out["doc_id"].append(int(doc_id))
                for k in range(AHASH_WORDS):
                    out[f"w{k}"].append(
                        sum(int(bits[16 * k + j]) << j for j in range(16))
                    )
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="int64") for k, v in out.items()}
            )

    return df.mapInPandas(_sig, schema=_AHASH_SIG_SCHEMA)


_PHASH_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'z' || substr(text, 2)
  FROM documents WHERE doc_id % 50 = 25
),
docs AS (
  SELECT doc_id, text, strlen(text) AS n
  FROM corpus WHERE strlen(text) >= 64
),
{_utf8_bytes_cte("docs")},
bytes AS (
  SELECT b.doc_id, d.n, b.v,
         CAST(((b.pos - 1) * 64) // d.n AS BIGINT) AS p
  FROM bytestream b JOIN docs d USING (doc_id)
),
blocks AS (
  SELECT doc_id, p, ANY_VALUE(n) AS n,
         CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
  FROM bytes GROUP BY doc_id, p
),
totals AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM bytes GROUP BY doc_id
),
bits AS (
  SELECT b.doc_id, b.p,
         CASE WHEN b.s * b.n > t.total * b.c THEN 1 ELSE 0 END AS bit
  FROM blocks b JOIN totals t ON b.doc_id = t.doc_id
),
sig AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN p < 16 THEN bit << CAST(p AS INTEGER) ELSE 0 END) AS BIGINT) AS w0,
    CAST(SUM(CASE WHEN p >= 16 AND p < 32 THEN bit << CAST(p - 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS w1,
    CAST(SUM(CASE WHEN p >= 32 AND p < 48 THEN bit << CAST(p - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS w2,
    CAST(SUM(CASE WHEN p >= 48 THEN bit << CAST(p - 48 AS INTEGER) ELSE 0 END) AS BIGINT) AS w3
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
     + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) AS INTEGER) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id
 AND (a.w0 = b.w0 OR a.w1 = b.w1 OR a.w2 = b.w2 OR a.w3 = b.w3)
WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
    + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) <= 3
"""


@op(
    "multimodal_phash_neardup",
    tags=("northstar", "multimodal", "dedup"),
    oracle=_PHASH_ORACLE,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over the media table: 64-bit
    aHash signatures (Arrow-batched mapInPandas — the numpy stage where a
    real pixel DCT would run), then candidate generation by 4x16-bit band
    LSH exactly like dedup_minhash_lsh's long-form SINGLE self-equi-join,
    and a Hamming cut via bit_count(xor). Threshold 3 with 4 bands is
    EXHAUSTIVE by pigeonhole — at most 3 differing bits cannot straddle
    all 4 words — so the banded plan provably returns every qualifying
    pair without an O(n^2) scan: shuffle volume is |sigs| x 4 band rows,
    and only same-bucket pairs are ever materialized. The oracle rebuilds
    the identical integer signature in SQL from the byte stream.

    The synthetic corpus has no pairs inside Hamming-3, so duplicates are
    PLANTED and mirrored exactly in the oracle (the text_pii_redact
    convention): an exact copy of every doc_id % 50 == 0 (Hamming 0 by
    construction) and a first-byte-perturbed copy of every
    doc_id % 50 == 25 (whose deterministic distance both engines agree
    on, qualifying iff <= 3)."""
    base = lt(spark, sf_dir, "documents").select("doc_id", "text")
    plants_exact = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    plants_pert = base.filter(F.col("doc_id") % 50 == 25).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("z"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = base.unionByName(plants_exact).unionByName(plants_pert)
    sig = ahash_signatures(
        corpus.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    long = sig.selectExpr(
        "doc_id", "stack(4, 0, w0, 1, w1, 2, w2, 3, w3) AS (widx, wval)"
    )
    a, b = long.alias("a"), long.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.widx") == F.col("b.widx"))
            & (F.col("a.wval") == F.col("b.wval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(*[F.col(c).alias(f"a_{c}") for c in sig.columns])
    sb = sig.select(*[F.col(c).alias(f"b_{c}") for c in sig.columns])
    ham = (
        F.expr("bit_count(a_w0 ^ b_w0) + bit_count(a_w1 ^ b_w1)"
               " + bit_count(a_w2 ^ b_w2) + bit_count(a_w3 ^ b_w3)")
    )
    return (
        cand.join(sa, cand.doc_a == sa.a_doc_id)
        .join(sb, cand.doc_b == sb.b_doc_id)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= AHASH_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


_UDAF_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
         AS cents_pandas
FROM events
GROUP BY event_type
"""


@op("udf_pandas_grouped_agg", tags=("extension", "udf", "agg"), oracle=_UDAF_ORACLE)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-defined AGGREGATE extension path: an Arrow-batched pandas
    grouped-agg UDF (`@pandas_udf` returning one scalar per group)
    summing exact integer cents per event type, value-checked against the
    JVM SUM the oracle computes — proving the Python extension seam is
    numerically exact, not just 'close'. This is the registered
    demonstration of HOW a user adds an aggregate Spark lacks (the custom
    sketches and media features elsewhere in this repo ride the same
    mechanism: Arrow columnar transfer, pandas vectorized kernel, one
    result per group).

    Scale shape: grouped-agg pandas UDFs hash-partition by the group key
    and stream Arrow batches through the Python worker — no per-row
    pickling; integer accumulation in int64 numpy is exact. For aggregates
    expressible in built-ins, stay JVM-side (every hot-path op here does);
    this op exists because sometimes they aren't."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def cents_sum(v: pd.Series) -> int:  # returns None for all-NULL groups
        # (the int hint only classifies this as a grouped-agg UDF; the
        # long output column is nullable)
        # SQL SUM semantics: NULLs (NaN on the pandas bridge) are skipped,
        # and an all-NULL group sums to NULL — astype(int64) on a series
        # still carrying NaN raises, so dropna() is correctness AND the
        # crash guard (nullstorm:141 killed the unguarded kernel)
        vv = v.dropna()
        if len(vv) == 0:
            return None
        return int(vv.mul(100.0).round().astype("int64").sum())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # Spark disallows mixing pandas and JVM aggregates in one agg, so
        # the count is a pandas aggregate too. len(v) includes NULLs —
        # COUNT(*) semantics, matching the oracle.
        return int(len(v))

    ev = lt(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        n_rows("value").alias("n_events"),
        cents_sum("value").alias("cents_pandas"),
    )


_MEDIA_CURATION_ORACLE = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN source = 'src0' THEN 'image/png'
              WHEN source = 'src1' THEN 'audio/wav'
              ELSE 'video/mp4' END AS mime,
         text, CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM documents
),
gated AS (SELECT * FROM media WHERE n_bytes >= 64),
deduped AS (
  SELECT mime, text, MIN(doc_id) AS keeper_doc, COUNT(*) AS n_copies,
         ANY_VALUE(n_bytes) AS n_bytes
  FROM gated GROUP BY mime, text
)
SELECT mime,
       substr(md5('mshard:' || CAST(keeper_doc AS VARCHAR)), 1, 1) AS shard,
       COUNT(*) AS n_kept,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dropped_dups,
       CAST(SUM(n_bytes) AS BIGINT) AS kept_bytes
FROM deduped
GROUP BY mime, shard
"""


@op(
    "pipeline_media_curation",
    tags=("northstar", "multimodal", "pipeline", "dedup"),
    oracle=_MEDIA_CURATION_ORACLE,
)
def pipeline_media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-side curation pipeline as ONE Catalyst plan — the binary
    twin of pipeline_corpus_build: typed-metadata gate (size floor on the
    payload), exact byte-level dedup per mime family (hash-groupBy keeping
    the lowest doc_id, counting dropped copies), deterministic md5-nibble
    shard assignment of the keepers, and the per-(mime, shard) manifest a
    media trainer's loader reads. Near-dup (multimodal_phash_neardup) and
    feature extraction (multimodal_decode_features) layer onto the same
    keeper set.

    Scale shape: the gate is scan-prunable metadata; the dedup groupBy
    shuffles payload HASHES at 100 TB (sha2 the payload first — same
    answer, fixed-width shuffle rows; here the payload stands in
    directly); shard assignment is a narrow map on the keeper id and the
    manifest rollup map-side combines to |mimes x 16| rows."""
    media = media_table(spark, sf_dir)
    gated = media.where(F.col("meta.n_bytes") >= 64)
    deduped = gated.groupBy(
        F.col("meta.mime").alias("mime"), F.col("payload")
    ).agg(
        F.min("doc_id").alias("keeper_doc"),
        F.count("*").alias("n_copies"),
        F.any_value(F.col("meta.n_bytes")).alias("n_bytes"),
    )
    shard = F.substring(
        F.md5(F.concat(F.lit("mshard:"), F.col("keeper_doc").cast("string"))), 1, 1
    )
    return (
        deduped.select("mime", shard.alias("shard"), "n_copies", "n_bytes")
        .groupBy("mime", "shard")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(F.col("n_copies") - 1).alias("n_dropped_dups"),
            F.sum("n_bytes").alias("kept_bytes"),
        )
    )


_SCALAR_UDF_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
                - CAST(ROUND(o_totalprice * 100.0) AS BIGINT) % 500) AS BIGINT)
         AS bucketed_cents
FROM orders
GROUP BY o_orderpriority
"""


@op("udf_pandas_scalar_batch", tags=("extension", "udf"), oracle=_SCALAR_UDF_ORACLE)
def udf_pandas_scalar_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched SCALAR pandas UDF — the third extension mechanism
    next to the grouped-agg UDF (udf_pandas_grouped_agg) and mapInPandas
    (embedding_gram_matrix, multimodal features): a vectorized per-row
    numpy computation (price quantized to exact cents, floored to 5-dollar
    buckets) runs once per Arrow batch, then feeds an ordinary JVM
    aggregate. The point under test is the boundary: the UDF does only
    the per-row math Python is needed for, while grouping, summing, and
    shuffling stay in Tungsten — value-checked against the pure-SQL
    restatement, so the Arrow transfer provably loses nothing.

    Scale: per-batch numpy at memory-bandwidth speed; one map-side-
    combinable shuffle of |priorities| partials. The anti-pattern this
    replaces — a row-at-a-time Python UDF — would serialize every row
    through pickle individually (~100× slower)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def bucket_cents(price: pd.Series) -> pd.Series:
        import numpy as np

        cents = np.floor(np.abs(price.to_numpy() * 100) + 0.5).astype(np.int64)
        return pd.Series(cents - cents % 500)

    orders = lt(spark, sf_dir, "orders")
    return (
        orders.select("o_orderpriority", bucket_cents("o_totalprice").alias("bc"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("bc").alias("bucketed_cents"),
        )
    )


_PAIR_ORACLE = """
WITH d AS (SELECT doc_id FROM documents),
e AS (SELECT vec_id FROM embeddings),
j AS (
  SELECT COALESCE(doc_id, vec_id) AS pair_id,
         CASE WHEN doc_id IS NULL THEN 'embedding_only'
              WHEN vec_id IS NULL THEN 'text_only'
              ELSE 'aligned' END AS status
  FROM d FULL OUTER JOIN e ON doc_id = vec_id
)
SELECT status, COUNT(*) AS n_pairs,
       MIN(pair_id) AS min_id, MAX(pair_id) AS max_id
FROM j GROUP BY status
"""


@op("multimodal_pair_alignment", tags=("northstar", "multimodal", "join"), oracle=_PAIR_ORACLE)
def multimodal_pair_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-alignment audit for a paired text↔embedding dataset: a
    FULL OUTER join on the shared id partitions the union into aligned
    pairs and per-side orphans — the integrity gate a contrastive-training
    pipeline (CLIP-style text/image pairs, or text/embedding here) runs
    before packing batches, because silently dropped orphans skew the
    loss and silently joined misalignments poison it. Emits per status
    the count and id range; a loader consumes only the 'aligned' slice
    and the orphan counts page someone when they move.

    Scale shape: one co-partitioned shuffle join on the id (both sides
    hash the same key — at 100 TB both tables are bucketed by id and the
    join is exchange-free, cf. join_bucketed_colocated), then a
    three-row rollup."""
    d = lt(spark, sf_dir, "documents").select("doc_id")
    e = lt(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full_outer").select(
        F.coalesce("doc_id", "vec_id").alias("pair_id"),
        F.when(F.col("doc_id").isNull(), "embedding_only")
        .when(F.col("vec_id").isNull(), "text_only")
        .otherwise("aligned")
        .alias("status"),
    )
    return j.groupBy("status").agg(
        F.count("*").alias("n_pairs"),
        F.min("pair_id").alias("min_id"),
        F.max("pair_id").alias("max_id"),
    )


_UDTF_WIDTH = 120

_UDTF_ORACLE = f"""
SELECT d.doc_id,
       CAST(g.i AS BIGINT) AS chunk_idx,
       CAST(length(substr(d.text, CAST(g.i * {_UDTF_WIDTH} + 1 AS BIGINT),
                          {_UDTF_WIDTH})) AS BIGINT) AS chunk_len,
       md5(substr(d.text, CAST(g.i * {_UDTF_WIDTH} + 1 AS BIGINT),
                  {_UDTF_WIDTH})) AS chunk_md5
FROM documents d,
LATERAL (SELECT UNNEST(range((length(d.text) + {_UDTF_WIDTH} - 1)
                             // {_UDTF_WIDTH})) AS i) g
"""


@op("udf_python_udtf_chunks", tags=("extension", "udf", "udtf"), oracle=_UDTF_ORACLE)
def udf_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) — the fourth and
    last Python extension mechanism next to the scalar pandas UDF,
    grouped-agg UDF, and mapInPandas: a row-to-rows generator invoked via
    LATERAL join, here splitting each document into fixed 120-char
    chunks (index, length, md5). The oracle restates the expansion as a
    pure-SQL LATERAL range+substr — so the UDTF's row fan-out, ordering,
    and per-chunk bytes are all value-checked, and a user sees exactly
    how a custom table function plugs into Catalyst (the UDTF node
    appears in the plan as a Generate-like expansion fed per input row).

    Scale shape: the expansion is a narrow map (no shuffle) — each input
    row yields its chunks in place; the real chunker for training data
    is doc_chunk_tokens (pure Catalyst, JVM-side); this op's point is
    the EXTENSION PATH for expansions Spark can't express natively."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx BIGINT, chunk_len BIGINT, chunk_md5 STRING")
    class SplitChunks:
        def eval(self, text: str):
            import hashlib

            if text is None:
                return
            for i, start in enumerate(range(0, len(text), _UDTF_WIDTH)):
                chunk = text[start : start + _UDTF_WIDTH]
                yield (
                    i,
                    len(chunk),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )

    # a DataFrame lateral join calls the UDTF without registering a
    # session function under a fixed name
    docs = lt(spark, sf_dir, "documents").alias("d")
    return docs.lateralJoin(SplitChunks(F.col("d.text").outer())).select(
        "doc_id", "chunk_idx", "chunk_len", "chunk_md5"
    )


# ---------------------------------------------------------------------------
# REAL media decode — PNG, WAV, baseline JPEG, MP4 and MP3 parsed from
# actual format bytes (functions/png.py, wav.py, jpeg.py, mp4.py, mp3.py;
# stdlib only). This retires the round-1..3 "decode is an env stub" seam for
# every payload mime: still images/PCM (incl. the entropy-coded JPEG path:
# DHT-driven Huffman decode, ZRL/EOB runs, dequantize, IDCT), the MP4
# container (full ISO-BMFF box-tree demux over a raw-grayscale track, so
# pixel decode is exact) and the MP3 framing layer (header walk → frame
# lengths / sample counts). The only remaining env-bound seam is
# entropy-coded sample BODIES — H.264/AAC macroblocks and MP3 Huffman
# audio (decode_media real=True; the demuxers reject those fourccs).

_REAL_RATE = 8000


def _real_geom(doc_id: int) -> tuple[int, int, int]:
    """(png_width, png_height, wav_samples) — small, deterministic."""
    return 8 + doc_id % 8, 8 + doc_id % 5, 32 + doc_id % 32


def _real_pixel(doc_id: int, x: int, y: int, c: int) -> int:
    return (doc_id * 31 + x * 7 + y * 13 + c * 101) % 256


def _real_jblock(doc_id: int, bx: int, by: int) -> int:
    """Grayscale value of the 8x8 block (bx, by) of a JPEG fixture.
    Block-CONSTANT by construction: that is the exactly-representable
    subspace of baseline JPEG (only the DC coefficient survives the
    forward DCT, and DC = 8*(v-128) is an exact integer under the
    all-ones quantization table), so decode is bit-exact and the oracle
    can predict decoded sums byte-blind — see functions/jpeg.py."""
    return (doc_id * 37 + bx * 11 + by * 23) % 256


def _real_sample(doc_id: int, k: int) -> int:
    return (doc_id * 17 + k * 257) % 4096 - 2048


def _real_vframes(doc_id: int) -> int:
    """Frame count of an MP4 fixture (2..4 — odd counts exercise the
    two-run stsc chunk plan in functions/mp4.py)."""
    return 2 + doc_id % 3


def _real_vpixel(doc_id: int, f: int, x: int, y: int) -> int:
    """Grayscale value of pixel (x, y) in frame f of an MP4 fixture."""
    return (doc_id * 41 + f * 97 + x * 7 + y * 13) % 256


def _real_aframes(doc_id: int) -> int:
    """Frame count of an MP3 fixture (4..8)."""
    return 4 + doc_id % 5


_MP3_RATE, _MP3_KBPS = 44100, 128


def _real_apad(doc_id: int, i: int) -> int:
    """Padding bit of MP3 frame i — varies per frame so the walker must
    parse every header to land on the next sync word."""
    return (doc_id + i) % 2


def real_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mime, payload) with payload = REAL PNG / WAV / JPEG /
    MP3 / MP4 bytes, generated deterministically per doc inside an Arrow
    batch — the shape of a corpus whose media column was ingested from
    object storage. Generation is a narrow map; nothing touches the
    driver."""
    from ..functions.jpeg import encode_jpeg_gray
    from ..functions.mp3 import encode_mp3
    from ..functions.mp4 import encode_mp4_rawvideo
    from ..functions.png import encode_png
    from ..functions.wav import encode_wav

    base = lt(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("source") == "src0", "image/png")
        .when(F.col("source") == "src1", "audio/wav")
        .when(F.col("source") == "src2", "image/jpeg")
        .when(F.col("source") == "src3", "audio/mpeg")
        .otherwise("video/mp4")
        .alias("mime"),
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, mime in zip(pdf["doc_id"], pdf["mime"]):
                d = int(d)
                w, h, n = _real_geom(d)
                if mime == "image/png":
                    rows = [
                        bytes(
                            _real_pixel(d, x, y, c)
                            for x in range(w)
                            for c in range(3)
                        )
                        for y in range(h)
                    ]
                    payloads.append(encode_png(w, h, rows))
                elif mime == "audio/wav":
                    payloads.append(
                        encode_wav(
                            _REAL_RATE, [_real_sample(d, k) for k in range(n)]
                        )
                    )
                elif mime == "image/jpeg":
                    grows = [
                        bytes(
                            _real_jblock(d, x // 8, y // 8) for x in range(w)
                        )
                        for y in range(h)
                    ]
                    payloads.append(encode_jpeg_gray(w, h, grows))
                elif mime == "audio/mpeg":
                    payloads.append(
                        encode_mp3(
                            _MP3_RATE,
                            [
                                (_MP3_KBPS, _real_apad(d, i))
                                for i in range(_real_aframes(d))
                            ],
                            id3_payload=f"doc={d}".encode(),
                        )
                    )
                else:  # video/mp4: real ISO-BMFF, raw-grayscale track
                    frames = [
                        bytes(
                            _real_vpixel(d, f, x, y)
                            for y in range(h)
                            for x in range(w)
                        )
                        for f in range(_real_vframes(d))
                    ]
                    payloads.append(encode_mp4_rawvideo(w, h, frames))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": pdf["mime"], "payload": payloads}
            )

    return base.mapInPandas(
        _gen, schema="doc_id long, mime string, payload binary"
    )


_REAL_DECODE_SCHEMA = (
    "doc_id long, mime string, width int, height int, n_values long, "
    "value_sum long, decoder string"
)

# The oracle re-derives every decoded statistic from the SAME closed-form
# pixel/sample generators in pure SQL — it never sees a PNG or WAV byte.
# The Spark side can only match by actually parsing the container, inflating
# IDAT, unfiltering scanlines / unpacking PCM, and summing what it decoded.
_REAL_DECODE_ORACLE = f"""
WITH geom AS (
  SELECT doc_id,
         CASE WHEN source = 'src0' THEN 'image/png'
              WHEN source = 'src1' THEN 'audio/wav'
              WHEN source = 'src2' THEN 'image/jpeg'
              WHEN source = 'src3' THEN 'audio/mpeg'
              ELSE 'video/mp4' END AS mime,
         CAST(8 + doc_id % 8 AS INTEGER) AS w,
         CAST(8 + doc_id % 5 AS INTEGER) AS h,
         CAST(32 + doc_id % 32 AS INTEGER) AS n,
         CAST(2 + doc_id % 3 AS INTEGER) AS nfv,
         CAST(4 + doc_id % 5 AS INTEGER) AS nfa
  FROM documents
),
png AS (
  SELECT g.doc_id, g.mime, g.w AS width, g.h AS height,
         CAST(g.w * g.h * 3 AS BIGINT) AS n_values,
         CAST(SUM((g.doc_id * 31 + x.i * 7 + y.i * 13 + c.i * 101) % 256)
              AS BIGINT) AS value_sum,
         'png' AS decoder
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, g.w)) AS i) x ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, g.h)) AS i) y ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, 3)) AS i) c ON TRUE
  WHERE g.mime = 'image/png'
  GROUP BY g.doc_id, g.mime, g.w, g.h
),
wav AS (
  SELECT g.doc_id, g.mime, NULL::INTEGER AS width, NULL::INTEGER AS height,
         CAST(g.n AS BIGINT) AS n_values,
         CAST(SUM((g.doc_id * 17 + k.i * 257) % 4096 - 2048)
              AS BIGINT) AS value_sum,
         'wav' AS decoder
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, g.n)) AS i) k ON TRUE
  WHERE g.mime = 'audio/wav'
  GROUP BY g.doc_id, g.mime, g.n
),
jpeg AS (
  SELECT g.doc_id, g.mime, g.w AS width, g.h AS height,
         CAST(g.w * g.h AS BIGINT) AS n_values,
         CAST(SUM((g.doc_id * 37 + (x.i // 8) * 11 + (y.i // 8) * 23) % 256)
              AS BIGINT) AS value_sum,
         'jpeg' AS decoder
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, g.w)) AS i) x ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, g.h)) AS i) y ON TRUE
  WHERE g.mime = 'image/jpeg'
  GROUP BY g.doc_id, g.mime, g.w, g.h
),
-- The mp4 arm regenerates the per-frame pixel sums of the raw-grayscale
-- track: the Spark side can only match by actually walking the box tree
-- and slicing the real frame bytes out of mdat at the stsc/stco offsets.
mp4 AS (
  SELECT g.doc_id, g.mime, g.w AS width, g.h AS height,
         CAST(g.nfv * g.w * g.h AS BIGINT) AS n_values,
         CAST(SUM((g.doc_id * 41 + f.i * 97 + x.i * 7 + y.i * 13) % 256)
              AS BIGINT) AS value_sum,
         'mp4-rawvideo' AS decoder
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, g.nfv)) AS i) f ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, g.w)) AS i) x ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, g.h)) AS i) y ON TRUE
  WHERE g.mime = 'video/mp4'
  GROUP BY g.doc_id, g.mime, g.nfv, g.w, g.h
),
-- The mp3 arm predicts what a HEADER WALK yields: 1152 samples/frame and
-- the Layer III slot-formula frame lengths (144*128000//44100 + padding,
-- padding alternating per _real_apad) — value_sum = total framed bytes.
-- Sample-body decode (Huffman audio) is the documented env-bound seam.
mp3 AS (
  SELECT g.doc_id, g.mime, NULL::INTEGER AS width, NULL::INTEGER AS height,
         CAST(1152 * g.nfa AS BIGINT) AS n_values,
         CAST(SUM((144 * 128000) // 44100 + (g.doc_id + i.i) % 2)
              AS BIGINT) AS value_sum,
         'mp3-headers' AS decoder
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, g.nfa)) AS i) i ON TRUE
  WHERE g.mime = 'audio/mpeg'
  GROUP BY g.doc_id, g.mime, g.nfa
)
SELECT * FROM png UNION ALL SELECT * FROM wav
UNION ALL SELECT * FROM jpeg UNION ALL SELECT * FROM mp4
UNION ALL SELECT * FROM mp3
"""


@op(
    "multimodal_decode_real",
    tags=("northstar", "multimodal", "udf"),
    oracle=_REAL_DECODE_ORACLE,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL format decode over Arrow batches: PNG payloads are parsed
    chunk-by-chunk (CRC-checked), IDAT inflated, scanline filters undone;
    WAV payloads RIFF-walked to their PCM samples; baseline JPEG payloads
    entropy-DECODED — Huffman tables rebuilt from the stream's DHT
    segments, DC prediction, ZRL/EOB runs, dezigzag, dequantize, IDCT
    (functions/png.py, wav.py, jpeg.py — stdlib only, from the public
    specs). Emits per-doc geometry + exact integer value sums; the oracle
    recomputes those sums from the closed-form pixel/sample generators
    without ever seeing a container byte, so a hash match proves the
    decoders actually invert the formats (JPEG fixtures are 8x8
    block-constant — the exactly-representable subspace where the lossy
    DCT round-trips bit-exactly; arbitrary-image tolerance is pinned in
    tests/test_media_codecs.py). mp4 payloads are genuine ISO-BMFF files
    DEMULTIPLEXED box-by-box — video trak located via hdlr, sample
    tables (stts/stsz/stsc/stco) parsed, frame bytes sliced out of mdat
    and pixel-summed (the track is uncompressed grayscale, so decode is
    exact; functions/mp4.py rejects entropy-coded fourccs). mp3 payloads
    are genuine MPEG-1 Layer III framing streams walked header-by-header
    (functions/mp3.py): n_values = parsed frames x 1152 samples,
    value_sum = total framed bytes per the slot formula — sample-BODY
    decode (Huffman audio) is the one remaining env-bound seam. At
    100 TB this is the canonical media-ingest shape: binary column in,
    mapInPandas decode, typed features out — one narrow map, no
    shuffle."""
    from ..functions.jpeg import decode_jpeg_gray
    from ..functions.mp3 import SAMPLES_PER_FRAME, decode_mp3_frames
    from ..functions.mp4 import decode_mp4_rawvideo
    from ..functions.png import decode_png
    from ..functions.wav import decode_wav

    media = real_media_table(spark, sf_dir)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "mime": [], "width": [], "height": [],
                "n_values": [], "value_sum": [], "decoder": [],
            }
            for d, mime, payload in zip(
                pdf["doc_id"], pdf["mime"], pdf["payload"]
            ):
                blob = bytes(payload)
                if mime == "image/png":
                    w, h, ch, rows = decode_png(blob)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_values"].append(w * h * ch)
                    out["value_sum"].append(sum(sum(r) for r in rows))
                    out["decoder"].append("png")
                elif mime == "audio/wav":
                    _rate, _nch, samples = decode_wav(blob)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_values"].append(len(samples))
                    out["value_sum"].append(sum(samples))
                    out["decoder"].append("wav")
                elif mime == "image/jpeg":
                    w, h, grows = decode_jpeg_gray(blob)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_values"].append(w * h)
                    out["value_sum"].append(sum(sum(r) for r in grows))
                    out["decoder"].append("jpeg")
                elif mime == "audio/mpeg":
                    _rate, frames = decode_mp3_frames(blob)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_values"].append(SAMPLES_PER_FRAME * len(frames))
                    out["value_sum"].append(sum(fl for _, _, fl in frames))
                    out["decoder"].append("mp3-headers")
                else:
                    w, h, _ts, _dur, vframes = decode_mp4_rawvideo(blob)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_values"].append(sum(len(fr) for fr in vframes))
                    out["value_sum"].append(sum(sum(fr) for fr in vframes))
                    out["decoder"].append("mp4-rawvideo")
                out["doc_id"].append(d)
                out["mime"].append(mime)
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=_REAL_DECODE_SCHEMA)


_RESIZE_T = 6  # target grid (T x T), below every source dim (w,h >= 8)

# Nearest-neighbor sampling positions are pure integer arithmetic
# (x_src = tx * w // T), so the oracle regenerates the RESIZED image's
# pixel sum from the closed-form generator at exactly those positions —
# again byte-blind: matching requires decoding the PNG and resampling the
# actual pixel grid.
_RESIZE_ORACLE = f"""
WITH geom AS (
  SELECT doc_id, source,
         CAST(8 + doc_id % 8 AS INTEGER) AS w,
         CAST(8 + doc_id % 5 AS INTEGER) AS h,
         CAST(2 + doc_id % 3 AS INTEGER) AS nfv
  FROM documents
  WHERE source IN ('src0', 'src2')
     OR source IS NULL
     OR source NOT IN ('src0', 'src1', 'src2', 'src3')
),
png AS (
  SELECT g.doc_id, 'png' AS codec, g.w AS src_w, g.h AS src_h,
         {_RESIZE_T} AS out_w, {_RESIZE_T} AS out_h,
         CAST(SUM((g.doc_id * 31
                   + (tx.i * g.w // {_RESIZE_T}) * 7
                   + (ty.i * g.h // {_RESIZE_T}) * 13
                   + c.i * 101) % 256) AS BIGINT) AS resized_sum
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) tx ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) ty ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, 3)) AS i) c ON TRUE
  WHERE g.source = 'src0'
  GROUP BY g.doc_id, g.w, g.h
),
jpeg AS (
  SELECT g.doc_id, 'jpeg' AS codec, g.w AS src_w, g.h AS src_h,
         {_RESIZE_T} AS out_w, {_RESIZE_T} AS out_h,
         CAST(SUM((g.doc_id * 37
                   + ((tx.i * g.w // {_RESIZE_T}) // 8) * 11
                   + ((ty.i * g.h // {_RESIZE_T}) // 8) * 23) % 256)
              AS BIGINT) AS resized_sum
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) tx ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) ty ON TRUE
  WHERE g.source = 'src2'
  GROUP BY g.doc_id, g.w, g.h
),
-- Video arm: the preprocessing hop is decode → FRAME SELECT (middle
-- frame, nfv // 2) → resample. The Spark side can only match by demuxing
-- the real container and slicing that exact frame out of mdat.
mp4 AS (
  SELECT g.doc_id, 'mp4' AS codec, g.w AS src_w, g.h AS src_h,
         {_RESIZE_T} AS out_w, {_RESIZE_T} AS out_h,
         CAST(SUM((g.doc_id * 41
                   + (g.nfv // 2) * 97
                   + (tx.i * g.w // {_RESIZE_T}) * 7
                   + (ty.i * g.h // {_RESIZE_T}) * 13) % 256)
              AS BIGINT) AS resized_sum
  FROM geom g
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) tx ON TRUE
  JOIN LATERAL (SELECT UNNEST(range(0, {_RESIZE_T})) AS i) ty ON TRUE
  WHERE g.source IS NULL OR g.source NOT IN ('src0', 'src1', 'src2', 'src3')
  GROUP BY g.doc_id, g.nfv, g.w, g.h
)
SELECT * FROM png UNION ALL SELECT * FROM jpeg
UNION ALL SELECT * FROM mp4
"""


@op(
    "multimodal_resize_real",
    tags=("northstar", "multimodal", "udf"),
    oracle=_RESIZE_ORACLE,
)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel resampling: each PNG or JPEG payload is decoded
    (functions/png.py, functions/jpeg.py — the latter a genuine Huffman
    entropy decode) and nearest-neighbor-resized to a {T}x{T} thumbnail
    inside the same Arrow batch — decode → transform → feature, the full
    media-preprocessing hop a training pipeline runs per image. MP4
    payloads run the video variant of that hop: DEMUX the real ISO-BMFF
    container (functions/mp4.py), select the middle frame (nf // 2 — a
    genuine frame slice out of mdat via the stsc/stco chunk runs), then
    resample its raw-grayscale pixel grid the same way. Integer
    sampling positions (x_src = tx*w//T) make the result bit-deterministic
    (JPEG fixtures are block-constant, the lossy codec's exact subspace),
    and the oracle regenerates the resized pixel sum from the closed-form
    source generator at those positions without seeing a byte — provable
    end-to-end decode+resample, not plumbing-only (contrast
    multimodal_resize_plan, the metadata-phase planner that runs BEFORE
    pixel work at scale). One narrow map, no shuffle."""
    from ..functions.jpeg import decode_jpeg_gray
    from ..functions.mp4 import decode_mp4_rawvideo
    from ..functions.png import decode_png

    media = real_media_table(spark, sf_dir).where(
        F.col("mime").isin("image/png", "image/jpeg", "video/mp4")
    )
    T_ = _RESIZE_T

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "codec": [], "src_w": [], "src_h": [],
                   "out_w": [], "out_h": [], "resized_sum": []}
            for d, mime, payload in zip(
                pdf["doc_id"], pdf["mime"], pdf["payload"]
            ):
                if mime == "image/png":
                    w, h, ch, rows = decode_png(bytes(payload))
                    codec = "png"
                elif mime == "video/mp4":
                    w, h, _ts, _dur, vframes = decode_mp4_rawvideo(
                        bytes(payload)
                    )
                    mid = vframes[len(vframes) // 2]
                    rows = [mid[y * w : (y + 1) * w] for y in range(h)]
                    ch, codec = 1, "mp4"
                else:
                    w, h, rows = decode_jpeg_gray(bytes(payload))
                    ch, codec = 1, "jpeg"
                total = 0
                for ty in range(T_):
                    src_row = rows[ty * h // T_]
                    for tx in range(T_):
                        x = tx * w // T_
                        total += sum(src_row[x * ch : x * ch + ch])
                out["doc_id"].append(d)
                out["codec"].append(codec)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["out_w"].append(T_)
                out["out_h"].append(T_)
                out["resized_sum"].append(total)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        _resize,
        schema="doc_id long, codec string, src_w int, src_h int, "
        "out_w int, out_h int, resized_sum long",
    )


multimodal_resize_real.__doc__ = multimodal_resize_real.__doc__.replace(
    "{T}", str(_RESIZE_T)
)
