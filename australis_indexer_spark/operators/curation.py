"""Training-corpus curation operators (north-star extensions).

The reference feeds downstream consumers that assemble ML corpora
(README.md:4 "for other services (as consumers/subscribers)"); these are the
four curation passes a large-scale training-data pipeline runs between
ingest and tokenization, each expressed as ordinary DataFrame algebra so
Catalyst owns the physical plan:

- **decontamination** — remove/flag training docs that share long n-grams
  with an evaluation set (the train/test-overlap pass every LLM corpus
  needs). Shape: eval 8-gram set is TINY next to the corpus → broadcast
  inverted-index join; the corpus side stays a narrow explode, no shuffle.
- **repetition stats** — Gopher-style per-doc quality gates (duplicate
  2-gram fraction, most-frequent-2-gram fraction): one explode + one
  groupBy(doc_id) that reuses the pre-explode partitioning.
- **token-window chunking** — fixed-size stride windows over the token
  stream (what the trainer actually consumes): pure per-row array algebra,
  zero shuffles, embarrassingly parallel at any scale.
- **normalization** — lower/strip/collapse canonical text: map-only.

Every op has an exact DuckDB oracle; fractions divide two exact integer
counts (single IEEE op — bit-identical on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..registry import op
from ..sources.batch import load_table as lt
from .scale import range_prefix_sum

NGRAM = 8          # decontamination n-gram length
CHUNK_TOKENS = 64  # training chunk window
CHUNK_STRIDE = 48  # overlap = 16 tokens


def _canonical_text() -> "F.Column":
    """lower → collapse every maximal run of non-alphanumerics to ONE
    space → trim. Single regexp pass; provably identical to the oracles'
    two-pass form (`[^a-z0-9 ]`→' ' then `' +'`→' '): any input is an
    alternation of kept runs ([a-z0-9]) and other runs — both forms map
    each other-run to exactly one space. At 100 TB the normalize pass
    touches every text byte, so one regex traversal instead of two is a
    direct scan-cost win."""
    return F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )


def _tok(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks"))


def _gram_sql(k: int, first_pos: str = "p") -> str:
    """``concat_ws`` SQL of the k tokens starting at ``first_pos``."""
    terms = ", ".join(
        f"element_at(toks, {first_pos})" if i == 0 else f"element_at(toks, {first_pos} + {i})"
        for i in range(k)
    )
    return f"concat_ws(' ', {terms})"


def _ngrams(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, gram) for every k-token window — narrow explode, no shuffle."""
    return (
        df.filter(F.col("n") >= k)
        .selectExpr("doc_id", "toks", f"explode(sequence(1, n - {k - 1})) AS p")
        .selectExpr("doc_id", f"{_gram_sql(k)} AS gram")
    )


_DECON_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
grams AS (
  SELECT doc_id,
         concat_ws(' ', {", ".join(f"toks[p + {i}]" for i in range(NGRAM))})
           AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, n - {NGRAM - 1})) AS p
        FROM docs WHERE n >= {NGRAM})
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
)
SELECT g.doc_id,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_contaminated_ngrams
FROM grams g JOIN eval_grams e ON g.gram = e.gram
WHERE g.doc_id % 10 <> 0
GROUP BY g.doc_id
"""


@op("pipeline_decontaminate", tags=("northstar", "curation"), oracle=_DECON_ORACLE)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag every training doc sharing at least
    one 8-gram with the held-out set (docs with doc_id % 10 == 0 stand in
    for the benchmark suite). The eval 8-gram set is DISTINCT-ed and
    BROADCAST — at 100 TB the corpus side never shuffles; contamination
    lookup is a map-side hash probe per gram, then one groupBy(doc_id)."""
    docs = _tok(lt(spark, sf_dir, "documents"))
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    grams = _ngrams(docs, NGRAM)
    is_eval = F.col("doc_id") % 10 == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    return (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_contaminated_ngrams"))
    )


_REP_ORACLE = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
grams AS (
  SELECT doc_id, concat_ws(' ', toks[p], toks[p + 1]) AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 1)) AS p
        FROM docs WHERE n >= 2)
),
per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS total_2grams,
         CAST(COUNT(*) AS BIGINT) AS distinct_2grams,
         CAST(MAX(c) AS BIGINT) AS top_2gram_count
  FROM per_gram GROUP BY doc_id
)
SELECT doc_id, total_2grams,
       ((total_2grams - distinct_2grams) / total_2grams) AS dup_2gram_frac,
       (top_2gram_count / total_2grams) AS top_2gram_frac,
       (((total_2grams - distinct_2grams) / total_2grams) < 0.2
        AND (top_2gram_count / total_2grams) < 0.1) AS keep
FROM per_doc
"""


@op("text_repetition_stats", tags=("northstar", "curation"), oracle=_REP_ORACLE)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: duplicate-2-gram fraction and
    most-frequent-2-gram fraction per document, with the keep decision at
    the published thresholds (dup < 0.2, top < 0.1). One explode then one
    groupBy(doc_id, gram) + groupBy(doc_id) — both reuse the doc_id
    partitioning, so the whole op is a single exchange at any scale."""
    docs = _tok(lt(spark, sf_dir, "documents"))
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    per_gram = _ngrams(docs, 2).groupBy("doc_id", "gram").count()
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("count").alias("total_2grams"),
        F.count("*").cast("long").alias("distinct_2grams"),
        F.max("count").alias("top_2gram_count"),
    )
    dup = (F.col("total_2grams") - F.col("distinct_2grams")) / F.col(
        "total_2grams"
    )
    top = F.col("top_2gram_count") / F.col("total_2grams")
    return per_doc.select(
        "doc_id",
        "total_2grams",
        dup.alias("dup_2gram_frac"),
        top.alias("top_2gram_frac"),
        ((dup < 0.2) & (top < 0.1)).alias("keep"),
    )


_CHUNK_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
starts AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
  FROM docs WHERE n >= 1
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(LEAST(n - s, {CHUNK_TOKENS}) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ')
         AS chunk_text
FROM starts
"""


@op("doc_chunk_tokens", tags=("northstar", "curation"), oracle=_CHUNK_ORACLE)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking for training: {CHUNK}-token windows at stride
    {STRIDE} (16-token overlap keeps boundary context). Pure per-row array
    algebra — explode(sequence) + slice — zero shuffles; at 100 TB every
    task chunks its own scan split and writes, nothing crosses the wire."""
    docs = _tok(lt(spark, sf_dir, "documents"))
    starts = (
        docs.filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "toks",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE)
                )
            ).alias("s"),
        )
    )
    return starts.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.least(F.col("n") - F.col("s"), F.lit(CHUNK_TOKENS))
        .cast("int")
        .alias("n_tokens"),
        F.array_join(
            F.slice("toks", F.col("s") + 1, F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


doc_chunk_tokens.__doc__ = doc_chunk_tokens.__doc__.replace(
    "{CHUNK}", str(CHUNK_TOKENS)
).replace("{STRIDE}", str(CHUNK_STRIDE))


_NORM_ORACLE = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INTEGER)
         AS norm_chars,
       (trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ',
            'g'), ' +', ' ', 'g')) = text) AS already_canonical
FROM documents
"""


@op("text_normalize", tags=("northstar", "curation"), oracle=_NORM_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase → strip non-alphanumerics →
    collapse runs of spaces → trim): the map-only pass that runs before
    hashing/shingling so near-dup detection is casing/punctuation-blind.
    Pure JVM regexp — whole-stage codegen, no Python, no shuffle."""
    norm = _canonical_text()
    return lt(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("norm_chars"),
        (norm == F.col("text")).alias("already_canonical"),
    )


# The SQL normalization expression, shared by the composite oracle below.
_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

_BUILD_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, {_SQL_NORM} AS t FROM documents
),
docs AS (
  SELECT doc_id, t, string_split(t, ' ') AS toks,
         len(string_split(t, ' ')) AS n
  FROM norm
),
train AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
g2 AS (
  SELECT doc_id, concat_ws(' ', toks[p], toks[p + 1]) AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 1)) AS p
        FROM train WHERE n >= 2)
),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
rep AS (
  SELECT doc_id,
         (((SUM(c) - COUNT(*)) / SUM(c)) < 0.2
          AND (MAX(c) / SUM(c)) < 0.1) AS keep
  FROM pg GROUP BY doc_id
),
kept AS (
  SELECT d.doc_id, d.t, d.toks, d.n
  FROM train d LEFT JOIN rep r USING (doc_id)
  WHERE COALESCE(r.keep, TRUE)
),
deduped AS (
  SELECT doc_id, t, toks, n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
g8_train AS (
  SELECT doc_id,
         concat_ws(' ', {", ".join(f"toks[p + {i}]" for i in range(NGRAM))})
           AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - {NGRAM - 1})) AS p
        FROM deduped WHERE n >= {NGRAM})
),
eval_g8 AS (
  SELECT DISTINCT
         concat_ws(' ', {", ".join(f"toks[p + {i}]" for i in range(NGRAM))})
           AS gram
  FROM (SELECT toks, unnest(generate_series(1, n - {NGRAM - 1})) AS p
        FROM docs WHERE doc_id % 10 = 0 AND n >= {NGRAM})
),
contaminated AS (
  SELECT DISTINCT g.doc_id FROM g8_train g JOIN eval_g8 e ON g.gram = e.gram
),
final AS (
  SELECT * FROM deduped
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
starts AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
  FROM final WHERE n >= 1
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(LEAST(n - s, {CHUNK_TOKENS}) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ')
         AS chunk_text
FROM starts
"""


@op(
    "pipeline_corpus_build",
    tags=("northstar", "curation", "pipeline"),
    oracle=_BUILD_ORACLE,
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus build — every curation pass composed in
    production order, one Catalyst plan: normalize → Gopher repetition
    gates → 8-gram decontamination against the held-out split
    (doc_id % 10 == 0) → exact dedup (first doc_id wins per canonical
    text) → stride token-window chunking of the survivors. Emits the
    trainer-ready chunk table.

    Single-pass shape (round-4 reshape): ONE position explode per train
    doc feeds BOTH gram views — the 2-gram at position p for the
    repetition gate and (where p fits) the 8-gram for the broadcast
    contamination probe — and one two-level aggregation emits the keep
    flag AND the contaminated flag per doc. The r3 version consumed
    `deduped` twice (contamination grams + the anti-join back), which
    duplicated the whole scan→normalize→gram-agg→dedup-window subtree in
    the physical plan (5 parquet scans); this shape scans the corpus once.
    Decontaminate-then-dedup commutes with the r3 dedup-then-decontaminate
    because both gates are pure functions of the canonical text t: every
    doc in a duplicate group carries identical grams, so the surviving set
    is unchanged (oracle unchanged, value-exact).

    Scale shape: the gram aggregates run WITHOUT any gram-level shuffle —
    the train corpus is hash-partitioned by doc_id, which satisfies the
    clustered distribution of both groupBy(doc_id, g2) and
    groupBy(doc_id) — so the only corpus-wide shuffles are the doc_id
    repartition and the dedup hash on canonical text; the eval-split gram
    set rides a broadcast.

    r10: (a) the eval branch no longer rides the doc_id repartition — its
    only distribution requirement is the DISTINCT's own hash(gram)
    exchange, so the doc_id shuffle of the eval split was pure cost at
    every scale (plan: 4 exchanges → 3); (b) everything after the
    normalize projection is ONE spark.sql parse — the selectExpr/join
    chain cost ~0.4 s of py4j round-trips per build (guide §1.2 step 2:
    per-call work, measured before/after with cProfile); (c) the keep
    branch ships ONLY (doc_id, t) through the dedup window exchange.
    Measured 1.07 s → 0.69 s interleaved at sf0.1, rows identical.

    r10 session 3 (guide §2.3 "project before the exchange"): the doc_id
    exchange now carries (doc_id, t) instead of (doc_id, toks, n) —
    split() runs once per doc ABOVE the exchange, so the shuffled row is
    the raw text instead of its tokenized copy (UnsafeRow array<string>
    ≈ 2× the string bytes: per-element offsets + 8-byte padding).
    Explodes are CASE-guarded instead of WHERE-filtered: the pushed-down
    `size(split(t)) >= k` scan filters re-ran the normalize regex a
    second time per doc (Filter and Project don't share subexpressions
    across operators), and the vacuous `n >= 1` chunk gate pushed all the
    way into the kept branch's scan. A ReusedExchange variant (kept
    branch fed from the doc_id exchange, saving the 3rd scan+normalize)
    was A/B'd and REJECTED: the reuse serializes the kept branch behind
    the shuffle-stage barrier that the parallel parquet re-scan never
    waits on (min3avg 0.84 vs 0.67 s at sf0.1, 8 interleaved reps).
    Measured: min3avg 0.77 → 0.67 s at sf0.1, rows identical, oracle
    exact at sf0.001/sf0.01/sf0.1."""
    norm = _canonical_text()
    base = lt(spark, sf_dir, "documents").select("doc_id", norm.alias("t"))
    par = spark.sparkContext.defaultParallelism
    return spark.sql(
        f"""
        WITH docs AS (
          SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, t
          FROM {{base}} WHERE doc_id % 10 != 0
        ),
        docs_tok AS (
          SELECT doc_id, split(t, ' ') AS toks, size(split(t, ' ')) AS n
          FROM docs
        ),
        eval_docs AS (
          SELECT doc_id, split(t, ' ') AS toks, size(split(t, ' ')) AS n
          FROM {{base}} WHERE doc_id % 10 = 0
        ),
        eval_g8 AS (
          SELECT DISTINCT {_gram_sql(NGRAM)} AS gram
          FROM (SELECT doc_id, toks,
                       explode(CASE WHEN n >= {NGRAM}
                               THEN sequence(1, n - {NGRAM - 1}) END) AS p
                FROM eval_docs)
        ),
        -- one explode over 2-gram positions p ∈ [1, n-1]; the 8-gram view
        -- is defined at the subset of positions where it fits (NULL
        -- elsewhere — NULL never equi-joins, so short docs simply cannot
        -- be contaminated). CASE-guard, not WHERE: a WHERE on n pushes
        -- below the exchange as a second regex evaluation per doc.
        pos AS (
          SELECT doc_id, {_gram_sql(2)} AS g2,
                 CASE WHEN p <= n - {NGRAM - 1} THEN {_gram_sql(NGRAM)} END AS g8
          FROM (SELECT doc_id, toks, n,
                       explode(CASE WHEN n >= 2 THEN sequence(1, n - 1) END) AS p
                FROM docs_tok)
        ),
        probed AS (
          SELECT /*+ BROADCAST(eval_g8) */ pos.doc_id, pos.g2,
                 eval_g8.gram IS NOT NULL AS hit
          FROM pos LEFT JOIN eval_g8 ON pos.g8 = eval_g8.gram
        ),
        per2 AS (
          SELECT doc_id, g2, COUNT(*) AS c, MAX(hit) AS h2
          FROM probed GROUP BY doc_id, g2
        ),
        stats AS (
          SELECT doc_id,
                 ((SUM(c) - COUNT(*)) / SUM(c) < 0.2)
                   AND (MAX(c) / SUM(c) < 0.1) AS keep,
                 MAX(h2) AS contaminated
          FROM per2 GROUP BY doc_id
        ),
        kept AS (
          SELECT b.doc_id, b.t
          FROM {{base}} b LEFT JOIN stats s ON b.doc_id = s.doc_id
          WHERE b.doc_id % 10 != 0
            AND coalesce(s.keep, true) AND NOT coalesce(s.contaminated, false)
        ),
        final AS (
          SELECT doc_id, split(t, ' ') AS toks, size(split(t, ' ')) AS n
          FROM (SELECT doc_id, t,
                       ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id) AS rn
                FROM kept)
          WHERE rn = 1
        ),
        -- no `WHERE n >= 1`: split() never returns an empty array so the
        -- gate is vacuous (NULL t yields NULL n and the explode drops the
        -- row), and the pushed-down form re-ran the normalize regex in
        -- the kept branch's scan filter
        starts AS (
          SELECT doc_id, toks, n, explode(sequence(0, n - 1, {CHUNK_STRIDE})) AS s
          FROM final
        )
        SELECT doc_id,
               CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               CAST(LEAST(n - s, {CHUNK_TOKENS}) AS INT) AS n_tokens,
               array_join(slice(toks, s + 1, {CHUNK_TOKENS}), ' ') AS chunk_text
        FROM starts
        """,
        base=base,
    )


# PII patterns — identical RE source on both engines (Java regex and RE2
# agree on this class: char classes, quantifiers, literal dot).
_RE_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_RE_PHONE = r"\b555-[0-9]{3,4}\b"
_RE_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The synthetic corpus contains no PII, so the op plants a deterministic
# contact block per doc (pure function of doc_id) and then scrubs it — the
# redaction plumbing is the product; the injection makes it testable.
_SQL_PII_TEXT = (
    "text || ' contact user' || doc_id || '@mail.example.com or 10.0.' || "
    "(doc_id % 256) || '.5 phone 555-' || (100 + doc_id % 900)"
)

_PII_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, {_SQL_PII_TEXT} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_RE_PHONE}')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_RE_IPV4}')) AS INTEGER) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(t,
           '{_RE_EMAIL}', '<EMAIL>', 'g'),
           '{_RE_IPV4}', '<IP>', 'g'),
           '{_RE_PHONE}', '<PHONE>', 'g') AS redacted_text
FROM planted
"""


@op("text_pii_redact", tags=("northstar", "curation"), oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the pass every published training corpus runs before
    release: count and redact emails, phone numbers, and IPv4 addresses
    with typed placeholders. Map-only JVM regexp (whole-stage codegen, no
    shuffle, no Python); order matters (emails before IPs before phones) so
    a pattern never matches inside an earlier placeholder. The corpus is
    synthetic, so a deterministic contact block per doc_id is planted
    first — injection and scrub are both mirrored exactly in the oracle."""
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".5 phone 555-"),
        (F.col("doc_id") % 900 + 100).cast("string"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _RE_EMAIL, "<EMAIL>"),
            _RE_IPV4,
            "<IP>",
        ),
        _RE_PHONE,
        "<PHONE>",
    )
    return lt(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_RE_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_RE_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(_RE_IPV4), 0)).alias("n_ips"),
        red.alias("redacted_text"),
    )


_INGEST_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, {_SQL_NORM} AS t FROM documents
),
docs AS (
  SELECT doc_id, t, string_split(t, ' ') AS toks,
         len(string_split(t, ' ')) AS n
  FROM norm
),
g AS (
  SELECT doc_id, concat_ws(' ', toks[p], toks[p + 1]) AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 1)) AS p
        FROM docs WHERE n >= 2)
),
d AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS total,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS dist
  FROM g GROUP BY doc_id
)
SELECT docs.doc_id, t AS norm_text, CAST(n AS INTEGER) AS n_tokens,
       COALESCE(((total - dist) / total), 0.0) AS dup_2gram_frac,
       (COALESCE(((total - dist) / total), 0.0) < 0.2 AND n >= 10) AS keep
FROM docs LEFT JOIN d ON docs.doc_id = d.doc_id
"""


@op(
    "stream_corpus_ingest",
    tags=("northstar", "curation", "streaming"),
    oracle=_INGEST_ORACLE,
)
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation front-end as INCREMENTAL ingest: a file stream over the
    documents table (new crawl shards arrive as files; AvailableNow drains
    what exists) runs the stateless passes — normalize, tokenize, and a
    per-row duplicate-2-gram gate computed with array HOFs instead of the
    batch explode+groupBy (one row per doc means the per-doc stats need no
    aggregation at all) — and lands a curated parquet table exactly-once
    via checkpointed writeStream. Being map-only, streaming output ==
    batch output, so the batch SQL is an EXACT oracle, not a weaker
    contract. At 100 TB this is the always-on job that keeps the corpus
    current; the stateful passes (cross-doc dedup, decontamination) run as
    the periodic `pipeline_corpus_build` batch behind it."""
    import os

    from ..streaming.pipeline import start_drained, stream_session

    schema = lt(spark, sf_dir, "documents").schema
    base = scratch_dir(prefix="aispark_ingest_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    src = (
        stream_session(spark)
        .readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    norm = _canonical_text()
    curated = (
        src.select("doc_id", norm.alias("norm_text"))
        .withColumn("toks", F.split("norm_text", " "))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn(
            "grams",
            # guard n_tokens < 2: sequence(1, 0) is DESCENDING in Spark
            # ([1, 0]), so the unguarded form probes element_at(toks, 2)
            # on a 1-token doc — an ANSI runtime error (found by the
            # randomized-data fuzz sweep, tools/diffcheck.py --fuzz)
            F.expr(
                "CASE WHEN n_tokens >= 2 THEN"
                " transform(sequence(1, n_tokens - 1),"
                " p -> concat_ws(' ', element_at(toks, p),"
                " element_at(toks, p + 1)))"
                " ELSE CAST(array() AS array<string>) END"
            ),
        )
        .withColumn(
            "dup_2gram_frac",
            F.when(
                F.size("grams") > 0,
                (
                    F.size("grams").cast("long")
                    - F.size(F.array_distinct("grams")).cast("long")
                )
                / F.size("grams").cast("long"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "keep",
            (F.col("dup_2gram_frac") < 0.2) & (F.col("n_tokens") >= 10),
        )
        .drop("toks", "grams")
    )
    start_drained(
        curated.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    return spark.read.parquet(sink)


PACK_CAP = 256  # tokens per training sequence


_PACK_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
         CAST(LEAST(n - s, {CHUNK_TOKENS}) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
        FROM docs WHERE n >= 1)
),
cum AS (
  SELECT doc_id, chunk_idx, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx) - n_tokens
              AS BIGINT) AS start_off
  FROM chunks
)
SELECT doc_id, chunk_idx, n_tokens, start_off,
       (start_off // {PACK_CAP}) AS pack_id
FROM cum
"""


@op("pipeline_pack_sequences", tags=("northstar", "curation"), oracle=_PACK_ORACLE)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the trainer-side step after chunking: lay every
    chunk's tokens end-to-end in (doc_id, chunk_idx) order and cut
    PACK_CAP-token training sequences; a chunk's pack is decided by its
    global starting offset (chunks may straddle a boundary — the standard
    concat-then-split packing). The global offset is NOT a global-sort
    window: range-partition on the order key (partition order extends
    global order), per-partition running sums, then the exclusive prefix
    of the ~NPART partition totals is broadcast back — the two-phase
    prefix sum (scale.range_prefix_sum) that pipeline_corpus_curation's
    token budget also runs, with one row per partition on the driver."""
    chunks = _tok(lt(spark, sf_dir, "documents")).filter(F.col("n") >= 1)
    chunks = chunks.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    ).select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.least(F.col("n") - F.col("s"), F.lit(CHUNK_TOKENS))
        .cast("long")
        .alias("n_tokens"),
    )
    # unique global order key (chunk_idx < 1024 — docs cap at ~CHUNK_TOKENS*16)
    keyed = chunks.withColumn(
        "seq_key", F.col("doc_id") * 1024 + F.col("chunk_idx")
    )
    packed, cum, _ = range_prefix_sum(spark, keyed, ("seq_key",), "n_tokens")
    return (
        packed.select(
            "doc_id",
            "chunk_idx",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("start_off"),
        )
        .withColumn("pack_id", F.expr(f"start_off div {PACK_CAP}"))
    )
