"""Deduplication operators (north-star: BASELINE.json LLM-data-pipeline ops).

Five dedup families over `documents` / `embeddings`:

- **exact**          — content-hash group-by (`sha256`), keep min doc_id;
- **MinHash + LSH**  — word-3-shingles → 16 portable min-hashes → 4 bands of
                       4 → band-bucket join for candidates → estimated
                       Jaccard. The hash family is `md5(i || ':' || shingle)`
                       so the DuckDB oracle reproduces it bit-for-bit;
- **n-gram Jaccard** — exact 3-shingle Jaccard over shingle-equality
                       candidate pairs (the verification pass LSH feeds);
- **SimHash**        — 32-bit per-doc fingerprint from token md5 bit votes,
                       near-pairs via 4×8-bit banding + Hamming distance;
- **embedding cosine** — near-dup pairs with cosine ≥ τ, blocked by label.

Scale design (the reason these shapes were chosen):
- shingling/minhashing are narrow per-row ops after one `explode`;
- LSH banding turns the O(n²) pair space into equi-JOINS on band keys —
  at 100 TB each band join is an ordinary shuffle join on a high-cardinality
  key, AQE-skew-handled; no cross product anywhere;
- the only O(pairs) work is on LSH *candidates* (tiny by construction);
- embedding near-dup uses blocking (label/bucket) — swap in the LSH bucket
  from operators.similarity for unlabeled corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import op
from ..sources.batch import load_table as lt
from .scale import range_prefix_sum

# ---------------------------------------------------------------------------
# exact dedup


@op(
    "dedup_exact",
    tags=("northstar", "dedup"),
    oracle="""
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text); survivor = min doc_id.
    One shuffle on the 32-byte hash (uniform — never skewed); at 100 TB,
    hash first so the shuffle carries 32 bytes/row, not the document."""
    return (
        lt(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# shared shingle machinery

N_HASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASH // N_BANDS

_SQL_SHINGLES = """
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
positions AS (
  SELECT doc_id, toks, unnest(generate_series(1, n - 2)) AS p
  FROM docs WHERE n >= 3
),
shingles AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', toks[p], toks[p + 1], toks[p + 2]) AS shingle
  FROM positions
)"""


def _shingles(spark: SparkSession, sf_dir: str, *, distinct: bool = True) -> DataFrame:
    """Word-3-shingles per doc (explode — narrow, no shuffle).

    ``distinct=True`` (one shuffle) is required where shingles are COUNTED
    (exact Jaccard); min-hashing is duplicate-insensitive (MIN over a
    multiset == MIN over its set), so the signature path passes
    ``distinct=False`` and skips that entire shuffle."""
    # the documents table arrives as few parquet splits — repartition the
    # (tiny) doc rows by doc_id BEFORE the explode so shingling/hashing runs
    # on every core, and the downstream groupBy(doc_id) reuses this
    # partitioning with no further exchange. split() runs ABOVE the
    # exchange: the raw text is ~half the bytes of its tokenized copy
    # (guide §2.3 "project before the exchange"; measured 0.46 → 0.33 s
    # to the signature aggregate at sf0.1)
    docs = (
        lt(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .selectExpr("doc_id", "split(text, ' ') AS toks", "size(split(text, ' ')) AS n")
    )
    out = (
        docs.filter(F.col("n") >= 3)
        .selectExpr("doc_id", "toks", "explode(sequence(1, n - 2)) AS p")
        .selectExpr(
            "doc_id",
            "concat_ws(' ', element_at(toks, p), element_at(toks, p + 1),"
            " element_at(toks, p + 2)) AS shingle",
        )
    )
    return out.distinct() if distinct else out


N_MD5 = 4
SLICES_PER_MD5 = N_HASH // N_MD5  # 4 slices × 8 hex chars = one 128-bit md5


def _minhash_sig_sql() -> str:
    """Spark-SQL minhash aggregation over the ``{shingles}`` argument.

    16 portable min-hashes per doc at the cost of FOUR md5 calls per
    shingle: each 128-bit md5(i || ':' || shingle) is sliced into four
    independent 32-bit (8-hex-char) hashes, h_{4i+k} = MIN(slice_k). The
    slices are parsed to BIGINT before the MIN: fixed-width lowercase hex
    makes lexicographic MIN == numeric MIN (same total order, bijective),
    so the h values carry identical min/equality semantics as the oracle's
    hex-string MIN — but a LONG agg buffer lets Spark plan a codegen
    HashAggregate where 16×min(string) forces SortAggregate (a full sort
    of every shingle row, the widest intermediate in the whole pipeline;
    measured 2× op cost at the bench scale). ONE spark.sql parse: the
    selectExpr+16×F.expr form cost ~40 py4j round-trips per build."""
    mins = ", ".join(
        f"min(CAST(conv(substring(md5(concat('{i}:', shingle)), {1 + 8 * k}, 8),"
        f" 16, 10) AS BIGINT)) AS h{i * SLICES_PER_MD5 + k}"
        for i in range(N_MD5)
        for k in range(SLICES_PER_MD5)
    )
    return f"SELECT doc_id, {mins} FROM {{shingles}} GROUP BY doc_id"


def _sql_minhash_sig() -> str:
    cols = ",\n         ".join(
        f"MIN(substr(md5('{i}:' || shingle), {1 + 8 * k}, 8)) AS h{i * SLICES_PER_MD5 + k}"
        for i in range(N_MD5)
        for k in range(SLICES_PER_MD5)
    )
    return f"sig AS (\n  SELECT doc_id, {cols}\n  FROM shingles GROUP BY doc_id\n)"


def _bands_struct_sql() -> str:
    """`array(named_struct(...))` SQL of the per-band keys. Band key = the
    band's 4 min-hashes as a struct: join-key equality on the struct is
    exactly the oracle's md5(concat)-equality (fixed-width slices make the
    concat injective; md5 only compressed the key), minus 4 md5 calls per
    doc per band."""
    structs = ", ".join(
        f"named_struct('band', {j}, 'bk', named_struct("
        + ", ".join(f"'r{r}', h{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + "))"
        for j in range(N_BANDS)
    )
    return f"array({structs})"


def _sql_bands() -> str:
    bands = ", ".join(
        "md5(" + " || ".join(f"h{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + f") AS b{j}"
        for j in range(N_BANDS)
    )
    return f"bands AS (SELECT *, {bands} FROM sig)"


_SQL_EST = "(" + " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASH)
) + f") / {float(N_HASH)}"

_MINHASH_ORACLE = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sig()},
{_sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.b{j} = b.b{j}" for j in range(N_BANDS))})
)
SELECT doc_a, doc_b, {_SQL_EST} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE {_SQL_EST} >= 0.5
"""


@op("dedup_minhash_lsh", tags=("northstar", "dedup"), oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → minhash(16) → band(4×4) → bucket
    equi-join per band → union → distinct pairs → estimated Jaccard ≥ 0.5.

    Each band candidate generation is a self-equi-join on the band hash —
    the LSH trick that keeps 100 TB dedup shuffle-bound instead of O(n²).

    Construction: the shingle scan is a DataFrame (shared with the other
    dedup ops), handed to spark.sql as an argument; everything after it is
    ONE spark.sql parse. The chained selectExpr/join form cost ~500 py4j
    round-trips per build (~0.5 s of driver time, measured by cProfile at
    sf0.1 — construction was 45% of the op's bench seconds); the single
    parse resolves to the identical tree. Frame arguments get a unique
    view name that is dropped once the text is analyzed, so the op leaves
    nothing in the session catalog and concurrent calls cannot swap each
    other's inputs.

    r10 session 3: the 16 min-hashes ride the band explode, so the
    banded self-join emits est_jaccard directly and the `>= 0.5` gate
    runs BEFORE the pair distinct — the two joins back to the signature
    table are gone, and the distinct exchange carries only passing pairs
    instead of every cross-band candidate. At 100 TB the signature table
    is corpus-sized (it could never broadcast), so the old shape paid
    two full doc_id shuffles of it; carrying the 128-byte signature
    through the band explode moves it N_BANDS× through ONE exchange — vs
    two full signature shuffles PLUS the all-candidate distinct (guide
    §2.3 "shuffle keys and metadata instead of payloads" — here the
    signature IS the needed metadata; byte model corrected per ADVICE
    r10 #2). Interleaved A/B at sf0.1: min3avg 0.80 → 0.73 s,
    rows identical (256 pairs), oracle exact at sf0.001/sf0.01."""
    # both sides of the band self-join read the signature (one small row
    # per doc), and the returned frame reads it: an eager localCheckpoint
    # (the second rule in registry.op's docstring)
    sig = spark.sql(
        _minhash_sig_sql(), shingles=_shingles(spark, sf_dir, distinct=False)
    ).localCheckpoint(eager=True)
    # long-form (doc, h0..h15, band_idx, band_key): ONE self-equi-join on
    # (band, key) replaces four joins + union — a single shuffle exchange
    # reused for both sides; est_jaccard is the same tree as the Column
    # form (CASE sum -> cast double -> /16.0)
    est_sql = (
        "(CAST("
        + " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASH))
        + f" AS DOUBLE) / {float(N_HASH)}D)"
    )
    h_cols = ", ".join(f"h{i}" for i in range(N_HASH))
    return spark.sql(
        f"""
        WITH bands AS (
          SELECT doc_id, {h_cols}, b.band AS band, b.bk AS bk
          FROM (SELECT *, explode({_bands_struct_sql()}) AS b FROM {{sig}})
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {est_sql} AS est_jaccard
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id < b.doc_id AND {est_sql} >= 0.5
        """,
        sig=sig,
    )


_NGRAM_ORACLE = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       (n_common / (sa.sz + sb.sz - n_common)) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (n_common / (sa.sz + sb.sz - n_common)) >= 0.5
"""


@op("dedup_ngram_jaccard", tags=("northstar", "dedup"), oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard ≥ 0.5: candidate pairs from shingle equality
    (inverted-index join), exact intersection count, |A∪B| by
    inclusion-exclusion. This is the verification stage LSH candidates feed
    at scale; standalone it is safe while shingle document-frequency is
    bounded (salt or drop ultra-common shingles when it is not)."""
    # the distinct shingle table feeds three subtrees of the returned frame
    # (sizes + both join sides): an eager localCheckpoint (registry.op's
    # second rule). Shingle-table-sized — at 100 TB this op runs on LSH
    # candidates, not standalone; see docstring.
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("n_common") / (F.col("sza") + F.col("szb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# SimHash — 32-bit fingerprint from token-md5 bit votes. Bits are extracted
# from hex nibbles with generated CASE expressions so the exact same SQL text
# runs on both engines (no engine-specific bit ops).

_HEX = "0123456789abcdef"


def _bit_vote_sql(b: int) -> str:
    """+1/-1 vote for bit b (0..31) of md5(token): nibble = hex char at
    position b//4 (1-based), bit set iff nibble value has bit (b%4)."""
    chars = [c for v, c in enumerate(_HEX) if (v >> (b % 4)) & 1]
    inlist = ", ".join(f"'{c}'" for c in chars)
    return f"(CASE WHEN substr(tok_md5, {b // 4 + 1}, 1) IN ({inlist}) THEN 1 ELSE -1 END)"


_SIMHASH_BITS_SQL = ",\n       ".join(
    f"(CASE WHEN SUM({_bit_vote_sql(b)}) > 0 THEN '1' ELSE '0' END) AS bit{b}"
    for b in range(32)
)
_FP_CONCAT = "concat(" + ", ".join(f"bit{b}" for b in range(32)) + ")"

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (SELECT doc_id, md5(tok) AS tok_md5 FROM toks),
votes AS (
  SELECT doc_id,
       {_SIMHASH_BITS_SQL}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {_FP_CONCAT} AS simhash32 FROM votes
"""


@op("dedup_simhash", tags=("northstar", "dedup"), oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: per-token md5, ±1 vote per bit, sign → 32-bit
    fingerprint (emitted as a bit string — portable across engines). One
    explode + one groupBy(doc_id); near-pair search is `dedup_simhash_pairs`.

    Same input-spread shape as `_shingles` (guide §2.5 — the documents
    table arrives as few parquet splits, so without the repartition the
    explode + per-token md5 + 32 vote sums all run in ONE task): raw
    (doc_id, text) rows cross the exchange, tokenization happens above
    it, and the groupBy(doc_id) reuses the partitioning with no further
    exchange. Measured 1.24 → 0.59 s min3avg at sf0.1 (7 interleaved
    reps), rows identical."""
    hashed = (
        lt(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", F.md5("tok").alias("tok_md5"))
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.when(F.sum(F.expr(_bit_vote_sql(b))) > 0, "1").otherwise("0").alias(f"bit{b}")
            for b in range(32)
        ]
    )
    return votes.select("doc_id", F.concat(*[f"bit{b}" for b in range(32)]).alias("simhash32"))


_HAMMING = "(32 - (" + " + ".join(
    f"(CASE WHEN substr(a.simhash32, {i + 1}, 1) = substr(b.simhash32, {i + 1}, 1) THEN 1 ELSE 0 END)"
    for i in range(32)
) + "))"

_SIMHASH_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (SELECT doc_id, md5(tok) AS tok_md5 FROM toks),
votes AS (
  SELECT doc_id,
       {_SIMHASH_BITS_SQL}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, {_FP_CONCAT} AS simhash32 FROM votes),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {_HAMMING} AS hamming
  FROM fp a JOIN fp b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"substr(a.simhash32, {k * 8 + 1}, 8) = substr(b.simhash32, {k * 8 + 1}, 8)" for k in range(4))})
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= 6
"""


@op("dedup_simhash_pairs", tags=("northstar", "dedup"), oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: band the 32-bit fingerprint into 4 bytes; any
    equal byte → candidate (catches all pairs with Hamming ≤ 6 among bands);
    exact Hamming filter after. Same LSH-shaped plan: equi-joins on band
    substrings, no cross product."""
    # One banded self-join instead of four separate joins + union: explode
    # each fingerprint into its 4 (band_idx, byte) rows and equi-join on
    # (band_idx, band) — the same candidate set (a pair collides in band k
    # exactly when the old k-th join emitted it), with far fewer exchanges
    # than the union-of-joins shape (guide §2.4).
    #
    # r11: the fingerprint travels as ONE LONG (conv(simhash32, 2, 10) —
    # injective: fixed-width bit string ↔ 32-bit value), not the 32-char
    # string. Band k is a bit-slice of the long (shiftright(24-8k) & 255 —
    # exactly the value of substring(k*8+1, 8), leftmost char = most
    # significant bit, so the collision set is unchanged), and Hamming is
    # bit_count(a XOR b) — the r10 form compared 32 substrings per
    # candidate pair through a 32-term CASE chain (VERDICT r10 next-round
    # #5). Distinct still runs on (doc_a, doc_b, hamming), after the <= 6
    # gate; hamming is pair-determined so distinct-then-filter is
    # unchanged. Emitted schema identical (doc_a, doc_b, hamming BIGINT).
    #
    # Eager localCheckpoint (registry.op's second rule: both join sides of
    # the returned frame read it): the 32-bit-vote aggregate runs ONCE at
    # build (recomputing it per join side is ~9x the op at sf0.1 — AQE's
    # broadcast of one side defeats ReusedExchange), and both sides read
    # the narrow (doc_id, long) blocks. Every call recomputes from the scan.
    fp = (
        dedup_simhash(spark, sf_dir)
        .select("doc_id", F.conv("simhash32", 2, 10).cast("long").alias("fpl"))
        .localCheckpoint(eager=True)
    )
    bands = fp.select(
        "doc_id",
        "fpl",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"CAST(shiftright(fpl, {24 - 8 * k}) & 255 AS INT)")
                    for k in range(4)
                ]
            )
        ).alias("band_idx", "band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band_idx", "band"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fpl").bitwiseXOR(F.col("b.fpl")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup


@op(
    "dedup_embedding_cosine",
    tags=("northstar", "dedup", "vector"),
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE nrm > 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       (list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE (list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ 0.35 within label blocks (threshold tuned to the synthetic embedding distribution). Blocking turns
    all-pairs into a per-block join (swap the label for an LSH bucket from
    operators.similarity on unlabeled data). Dot/norm are sequential folds —
    bit-identical to DuckDB's list_dot_product."""
    from ..functions.vectors import cosine_cols, with_norm

    e = with_norm(
        lt(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    a = e.select(F.col("vec_id").alias("vec_a"), "label", F.col("emb").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), "label", F.col("emb").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    cos = cosine_cols("emb_a", "emb_b", "nrm_a", "nrm_b")
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
    )


# ---------------------------------------------------------------------------
# end-to-end corpus curation — the composed LLM-data pipeline

TOKEN_BUDGET = 200_000

_CURATE_ORACLE = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sig()},
{_sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.b{j} = b.b{j}" for j in range(N_BANDS))})
),
near_pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  WHERE {_SQL_EST} >= 0.5
),
quality AS (
  SELECT doc_id, text, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
  FROM documents
  WHERE n_chars >= 50
    AND (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) >= 0.3
),
exact_kept AS (
  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY sha256(text)
),
near_kept AS (
  SELECT doc_id FROM exact_kept
  WHERE doc_id NOT IN (SELECT doc_b FROM near_pairs)
),
budgeted AS (
  SELECT q.doc_id, q.n_tokens,
         CAST(SUM(q.n_tokens) OVER (ORDER BY q.doc_id) AS BIGINT) AS cum_tokens
  FROM quality q JOIN near_kept USING (doc_id)
)
SELECT doc_id, n_tokens, cum_tokens
FROM budgeted WHERE cum_tokens <= {TOKEN_BUDGET}
"""


@op("pipeline_corpus_curation", tags=("northstar", "dedup", "pipeline"), oracle=_CURATE_ORACLE)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in one plan:

    1. quality gate (length + lexical-diversity thresholds — narrow filter,
       pushed to the scan);
    2. exact dedup (sha256 hash-groupBy, survivor = min doc_id);
    3. near-dup removal (MinHash-LSH pairs; every doc_b of a pair ≥0.5 is
       dropped, keeping the lower id — one anti-join);
    4. token budget (running-sum window by doc_id, cut at TOKEN_BUDGET).

    Each stage is the registered standalone op; composed they stay ONE
    Catalyst plan — filters/pruning flow through, nothing materializes
    between stages. At 100 TB: stage 1 is map-only, stages 2-3 are the
    LSH equi-join machinery, and stage 4 is a two-phase distributed prefix
    sum (scale.range_prefix_sum) — range-partition by doc_id (partition
    order == global order), per-partition running sums, then an exclusive
    prefix of the ~NPART partition totals joined back broadcast. No single-partition global
    window anywhere; the only driver-side data is one row per partition."""
    docs = lt(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    quality = docs.filter(F.col("n_chars") >= 50).withColumn(
        "n_tokens", n_tokens
    ).withColumn("n_uniq", n_uniq).filter(
        (F.col("n_uniq") / F.col("n_tokens")) >= 0.3
    )
    exact_kept = quality.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    near_losers = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    near_kept = exact_kept.join(near_losers, "doc_id", "left_anti")
    survivors = quality.select("doc_id", "n_tokens").join(
        near_kept.select("doc_id"), "doc_id"
    )
    budgeted, cum, _ = range_prefix_sum(spark, survivors, ("doc_id",), "n_tokens")
    return budgeted.select(
        "doc_id", "n_tokens", cum.alias("cum_tokens")
    ).filter(F.col("cum_tokens") <= TOKEN_BUDGET)


# ---------------------------------------------------------------------------
# near-dup clustering — connected components over the LSH candidate graph

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
{_sql_minhash_sig()},
{_sql_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.b{j} = b.b{j}" for j in range(N_BANDS))})
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  WHERE {_SQL_EST} >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node AS src, node FROM nodes
  UNION
  SELECT r.src, e.b AS node FROM reach r JOIN edges e ON r.node = e.a
),
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


@op("dedup_cluster_components", tags=("northstar", "dedup", "iterative"), oracle=_CLUSTER_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components over the
    MinHash-LSH candidate graph by iterative min-label propagation — the
    step real pipelines need between pair detection and 'keep one doc per
    duplicate cluster' (the `is_canonical` flag marks the kept doc; pairs
    alone under-delete because near-dup is not transitive pairwise).

    Each iteration is one shuffle (neighbor-min aggregation) + one join;
    convergence takes O(graph diameter) rounds — near-dup clusters are
    shallow (diameter ≤ a few), so this terminates in 2-4 rounds where a
    recursive SQL engine materializes full transitive closure. Convergence
    is detected by the label-sum fixpoint (labels only ever decrease), one
    scalar agg per round. At 100 TB swap in the large-star/small-star
    variant (alternating trees) to bound skew on giant clusters; the oracle
    is a DuckDB recursive CTE over the identical pair set."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # localCheckpoint (eager) rather than cache: iterative joins grow the
    # lineage every round, and by round 4 plan analysis dominates runtime;
    # checkpointing truncates the logical plan to the materialized data.
    # On a cluster use checkpoint() with a reliable dir instead (survives
    # executor loss; localCheckpoint trades that for zero-copy speed).
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(16):
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("neighbor_min"))
        )
        new_labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("neighbor_min", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:  # labels only decrease -> sum is a fixpoint witness
            break
        prev_sum = new_sum
    else:
        raise RuntimeError("component propagation did not converge in 16 rounds")

    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("label")).alias("is_canonical"),
        )
    )


_QUALITY_ORACLE = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_sig()},
{_sql_bands()},
cand0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.b{j} = b.b{j}" for j in range(N_BANDS))})
),
cand AS (
  SELECT doc_a, doc_b FROM cand0
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  WHERE {_SQL_EST} >= 0.5
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE (n_common / (sa.sz + sb.sz - n_common)) >= 0.5
),
hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM hits) AS n_hits,
       CAST(((SELECT COUNT(*) FROM hits) * 1000000)
            // GREATEST((SELECT COUNT(*) FROM cand), 1) AS BIGINT)
         AS precision_ppm,
       CAST(((SELECT COUNT(*) FROM hits) * 1000000)
            // GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm
"""


@op("dedup_minhash_quality", tags=("northstar", "dedup", "quality"), oracle=_QUALITY_ORACLE)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality gate for the MinHash near-dup detector — the dedup
    analog of sim_ann_recall: the banded-LSH + estimate>=0.5 candidate set
    is scored against the EXACT shingle-Jaccard>=0.5 truth set, reporting
    precision and recall in integer ppm from one intersection join. A
    sketch whose parameters drift (bands, rows, hash count) fails here
    before it silently under-dedups a corpus; at 100 TB this runs on a
    sampled stratum with the same plan. Reuses both ops' plans — candidates
    and truth each stay shuffle-bound — and the oracle recomposes the two
    existing oracle CTE chains over the shared shingle table, so the score
    itself is value-checked, not just eyeballed."""
    # materialize both pair sets once (small: the >=0.5 near-dup pairs) —
    # each otherwise re-runs its full sketch/shingle pipeline twice, once
    # for its count and once for the intersection join
    cand = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    counts = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.expr("(n_hits * 1000000) div GREATEST(n_candidates, 1)").alias(
            "precision_ppm"
        ),
        F.expr("(n_hits * 1000000) div GREATEST(n_truth, 1)").alias("recall_ppm"),
    )


_BOILER_MIN_DOCS = 3
_BOILER_GRAM = 6

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         array_to_string(w[g.i:g.i + {_BOILER_GRAM - 1}], ' ') AS gram
  FROM toks,
  LATERAL (SELECT UNNEST(range(1, len(w) - {_BOILER_GRAM - 2})) AS i) g
  WHERE len(w) >= {_BOILER_GRAM}
),
per_doc AS (SELECT DISTINCT doc_id, gram FROM sh),
freq AS (
  SELECT md5(gram) AS gram_md5,
         COUNT(*) AS n_docs
  FROM per_doc GROUP BY md5(gram)
  HAVING COUNT(*) >= {_BOILER_MIN_DOCS}
)
SELECT gram_md5, n_docs FROM freq
"""


@op("dedup_boilerplate_ngrams", tags=("northstar", "dedup", "text"), oracle=_BOILER_ORACLE)
def dedup_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate detection: word 6-grams appearing
    verbatim in 3+ distinct documents — headers, license blurbs, chrome,
    the C4/Gopher repeated-content class that within-document repetition
    (text_repetition_stats) and whole-doc dedup (dedup_exact) both miss.
    A curation pass subtracts spans matching this list from every
    document; the list is keyed by md5 so downstream matching is an
    equi-join on a 32-char key, never a text compare (and the same
    shingle machinery the decontamination probe rides,
    pipeline_decontaminate, pointed at the corpus itself instead of an
    eval set).

    Scale shape: the shingle explode is narrow with fan-out |tokens|;
    per-doc DISTINCT then the frequency count are the combine-friendly
    (gram, doc) → (gram) reduction of the exact-dedup family; the
    support threshold prunes the output to broadcastable size no matter
    the corpus (a 6-gram shared by 3+ of 10⁹ docs is precisely the
    boilerplate you must remove)."""
    docs = lt(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(
        F.size("w") >= _BOILER_GRAM
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w") - (_BOILER_GRAM - 1))
        ).alias("i"),
        "w",
    ).select(
        "doc_id",
        F.array_join(F.slice("w", F.col("i"), _BOILER_GRAM), " ").alias("gram"),
    )
    per_doc = sh.distinct()
    return (
        per_doc.groupBy(F.md5("gram").alias("gram_md5"))
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
    )
