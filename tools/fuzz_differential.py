"""Randomized-data generator for the oracle differential (the fuzz data axis).

A validation class beyond the fixed driver tables: every oracle-backed op
must stay value-exact not just on the driver's seed-42 data (and its
cross-SF and 10x-stress derivatives) but on freshly generated
schema-conformant datasets with a *different* distribution each seed —
different sizes, category skew (every domain value kept present but with
random Dirichlet weights), numeric/timestamp ties, duplicate and
near-duplicate document groups, orders without lineitems, degenerate JSON
props, and fresh cluster structure for the embedding ops.

Rationale: both latent oracle bugs found by the round-4 cross-SF sweep
(float32 .5-rounding at one sf; watermark planted-row density) were
*data-distribution couplings* — the oracle and the op agreed only on the
shipped distribution. This harness generalizes that detection: any op or
oracle that silently depends on a property of seed-42 data fails here.

Invariants the generator preserves (the engine's documented data
contract, TESTDATA.md): primary keys unique, FKs valid, `n_chars =
length(text)`, event ts monotone in event_id (block-stream semantics),
categorical domains identical to the driver's, money values exact cents,
quantities integral. Everything else — sizes, weights, orderings, group
cardinalities, tie patterns — is re-drawn per seed.

This module only generates the data; the sweep is the oracle runner's
data axis:
    python tools/diffcheck.py --fuzz [PROFILE:]SEED ... [-- op ...]
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# every profile gen_dataset knows (its docstring describes each one)
DATA_PROFILES = (
    "default", "sparse", "ties", "unicode", "edge", "vecdup", "bignum",
    "timewarp", "chaos", "dust", "void", "longdoc", "mayhem", "nullstorm",
    "eclipse", "jsonrot", "husk", "halfpoint",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["P", "O", "F"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["old", "small", "cold", "hot", "blue", "red", "new", "big"]
NOUNS = ["ring", "anvil", "plate", "gear", "bolt", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# the "unicode" profile mixes non-ASCII words into the corpus: multi-byte
# UTF-8, combining-free accents, CJK — the multilingual reality a 100 TB
# corpus engine faces. Both engines must agree on code-point lengths,
# regex classes, and md5-of-UTF8 for every text op.
UNI_VOCAB = DOC_VOCAB + (
    "café naïve données straße señor élan 日本語 中文数据 データ 言語模型"
).split()
# the "edge" profile is what scraped web text actually looks like: tokens
# with attached punctuation, quotes, commas and apostrophes, plus embedded
# newlines / tabs / CRLF as token separators and a few empty or
# whitespace-only documents. Stresses (a) the CSV/JSONL round-trip ops —
# embedded newlines force real quoted-multiline records, (b) regex-engine
# agreement (Java regex vs DuckDB RE2) in every tokenizer/quality op, and
# (c) empty-token / empty-doc handling in the dedup and curation chains.
EDGE_VOCAB = DOC_VOCAB + [
    "data,", "value.", '"quoted"', "(spark)", "don't", "e.g.", "foo-bar",
    "a;b", "x:y", "it's", "end!", "why?", "semi;colon", "two,,commas",
    "tra--dash", "'single'", "[brack]", "{brace}", "pipe|bar", "pct%",
    # astral-plane (4-byte UTF-8) and control-character reality: emoji,
    # Gothic 𐍈, an embedded NUL, SOH and vertical tab — the last three
    # survive parquet fine and are exactly what binary-ish scraped pages
    # inject; they stress the RFC 3629 4-byte class in the byte-stream
    # oracles, UTF-16 surrogate handling in the JVM, and regex-engine
    # agreement (Java regex vs RE2) on non-printing characters.
    "smile😀face", "flag🎉🎊x", "goth𐍈ic", "nul\x00byte", "ctl\x01char",
    "vtab\x0bsep",
]
# token separators for the edge profile: mostly plain space, with real
# newline / CRLF / tab / double-space joins mixed in
EDGE_SEPS = [" "] * 12 + ["\n", "\n", "\r\n", "\t", "  ", " \n "]

_DAY_US = 86_400_000_000


def _probs(rng: np.random.RandomState, k: int) -> np.ndarray:
    """Random skewed category weights with every value still reachable."""
    p = rng.dirichlet(np.full(k, 0.6)) + 0.01
    return p / p.sum()


def _cents(rng, lo_c: int, hi_c: int, n: int) -> np.ndarray:
    """Exact-cent money doubles (every value representable; the engine's
    integerize-to-cents convention relies on 2-decimal inputs)."""
    return rng.randint(lo_c, hi_c, size=n).astype(np.int64) / 100.0


def _half_mask(y: np.ndarray) -> np.ndarray:
    """Where a double equals k+0.5 or one of its two double neighbours."""
    hit = np.zeros(y.shape, dtype=bool)
    for z in (y, np.nextafter(y, np.inf), np.nextafter(y, -np.inf)):
        hit |= np.modf(np.abs(z))[0] == 0.5
    return hit


def quantize_y(emb: np.ndarray) -> np.ndarray:
    """``embedding_quantize_int8``'s rounding input, same arithmetic:
    double(x) / double(maxabs) * 127 per element (0 for a zero vector)."""
    v = emb.astype(np.float64)
    m = np.abs(v).max(axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(m > 0, v / m * 127, 0.0)


def drift_y(emb: np.ndarray) -> np.ndarray:
    """``sim_embedding_drift``'s rounding input: ``cents(x, 4)`` rounds
    double(x) * 10000."""
    return emb.astype(np.float64) * 10_000


def halfpoint_counts(emb: np.ndarray) -> tuple[int, int]:
    """Elements whose rounding input sits on a half point (or a double
    neighbour of one) for the quantize and the drift op."""
    return int(_half_mask(quantize_y(emb)).sum()), int(_half_mask(drift_y(emb)).sum())


def _plant_halfpoints(rng: np.random.RandomState, emb: np.ndarray) -> None:
    """Move a few elements of 32 vectors onto rounding half points, in place.

    Half points are found by searching float32 candidates with the ops'
    own arithmetic (``quantize_y``, ``drift_y``); each chosen element takes
    the hit nearest its value. A quantize hit needs x / maxabs to be
    exactly (2k+1)/254, so each quantize vector's largest element is first
    raised to the next float32 of the form 127 q 2^-j. The double
    neighbours of k+0.5 are checked too but are unreachable from float32
    inputs: both products are exact or round onto k+0.5 itself."""
    picks = rng.choice(len(emb), size=min(32, len(emb)), replace=False)
    for n, r in enumerate(picks):
        v = emb[r]
        pos = rng.choice(64, size=8, replace=False)
        if n % 2 == 0:
            i = int(np.argmax(np.abs(v)))
            a = float(abs(v[i]))
            if a == 0.0:
                continue
            j = 21 - int(np.floor(np.log2(a)))
            v[i] = np.copysign(np.float32(127 * int(np.ceil(a * 2.0**j / 127)) * 2.0**-j), v[i])
            m = float(abs(v[i]))
            cand = np.float32(m * (np.arange(127) + 0.5) / 127)
            y = cand.astype(np.float64) / m * 127
            pos = pos[pos != i]
        else:
            cand = np.float32((np.arange(2000) + 0.5) / 10_000)
            y = drift_y(cand)
        hits = cand[_half_mask(y)]
        near = np.abs(np.abs(v[pos])[:, None] - hits[None, :]).argmin(axis=1)
        v[pos] = np.copysign(hits[near], v[pos])


def gen_dataset(seed: int, outdir: str, profile: str = "default") -> dict:
    """Write the ten engine tables with a fresh seed-driven distribution.

    ``profile="sparse"`` shrinks the FACT tables to a few dozen rows —
    empty (hour, type) cells, days with no events, users with one event,
    segments with no orders — the empty-group / zero-denominator stress
    for the relational, window, and timeseries families. Documents and
    embeddings keep their default sizes: the ANN/PQ/kmeans quality gates
    are contracts about corpus-scale inputs, and starving them tests the
    gate, not the engine.

    ``profile="unicode"`` draws document text from a vocabulary that mixes
    in non-ASCII words (accents, CJK) — probing cross-engine agreement on
    code-point semantics in every text/dedup/curation op.

    ``profile="edge"`` makes the corpus look like scraped web text:
    punctuation-attached tokens, embedded quotes/commas, newline / CRLF /
    tab separators, empty and whitespace-only documents, and JSON props
    with escape sequences — the stress for CSV/JSONL round-trips, regex
    tokenizers, and empty-token handling (killed scan_csv).

    ``profile="vecdup"`` draws every embedding verbatim from a small pool
    (exact duplicate vectors — distance ties everywhere) and plants a few
    exact ZERO vectors — the stress for tie-breaking and zero-norm cosine
    (crashed all 8 cosine ops with ANSI DIVIDE_BY_ZERO).

    ``profile="bignum"`` scales every money range up to ~1e10 cents
    ($100M line items, still exact cents in float64) — the value-scale
    overflow stress: cents² or cents×1e6×rowcount in INT64 arithmetic
    crosses 2^63 under ANSI.

    ``profile="timewarp"`` spans order dates 1965..2085 (negative-µs
    pre-epoch dates, every leap shape, far-future decades) and runs the
    event stream ACROSS epoch zero — the stress for date/month
    arithmetic and floor-vs-truncate bucket math on negative epochs.

    ``profile="chaos"`` activates edge + vecdup + bignum + timewarp
    SIMULTANEOUSLY — the interaction stress (e.g. huge cents-deltas
    against pre-epoch gaps, zero vectors among web-edge docs).

    ``profile="dust"`` is the minimal-cardinality regime BELOW sparse:
    fact tables of 1-4 rows (all orders from 1-2 customers, ONE
    supplier/part pool entry, 1-4 events from a single user) — but never
    empty, and documents/embeddings stay corpus-sized (sparse's
    rationale). Stresses the n=1 edge everywhere: single-row windows
    (every lag/lead NULL), stddev/percentile/gini of one value, top-k
    with k > n, ntile with fewer rows than tiles, funnels whose later
    steps have zero users, cohorts of one, DAU/WAU/MAU over a one-day
    domain, and dedup sweeps that must agree on an EMPTY duplicate-pair
    set.

    ``profile="void"`` composes dust + bignum + timewarp: single-row
    fact tables holding ~1e10-cent money on pre-epoch/far-future
    dates — the n=1 × extreme-value interaction (e.g. a lone $100M
    order in 1965 through every window, trend, and interpolation
    path).

    ``profile="longdoc"`` stretches the corpus axis: fewer documents
    (60-120) of 500-4000 words each, with the duplicate/near-duplicate
    structure preserved and single-word repetitions up to 2000 tokens —
    the stress for multi-chunk tokenization, sequence packing with items
    larger than the pack budget, shingle/gram volume per doc, and any
    latent position/length cap (the class unicode:22 caught in the
    phash oracle).

    ``profile="mayhem"`` composes chaos + longdoc: 500-4000-word
    scraped-web documents (embedded CRLF/quotes/tabs, unicode JSON
    escapes) over duplicate/zero vectors, enterprise money, and warped
    time — the length × content-interaction stress.

    ``profile="nullstorm"`` plants NULLs in every payload column a real
    ingest can fail to supply — segment/priority/returnflag (nullable
    GROUP/PIVOT keys), event_type (nullable stream key), props (missing
    JSON), value (nullable measure), lang/source (unidentified docs) —
    while keeping the hard contract columns (PKs, FKs, timestamps,
    money, text, n_chars) non-null. The stress for NULL group keys,
    NULL-skipping aggregates, NULL ordering divergence (Spark ASC =
    NULLS FIRST, DuckDB = NULLS LAST), concat/JSON-path NULL
    propagation, and pandas-bridge None/NaN coercion.

    ``profile="eclipse"`` composes sparse + nullstorm at TRIPLED null
    fractions (~18-36%/column): few-dozen-row fact tables where whole
    (group, key) cells can be entirely NULL — the all-NULL-group /
    NULL-majority interaction (empty dropna() kernels, SUM/median over
    zero present measurements, leaderboards whose every key is the
    missing one).

    ``profile="jsonrot"`` is the JSON-pathology regime for the free-form
    ``props`` column: valid ints dominate, with string-typed
    ints/floats, JSON floats (exponent form, beyond-int64 magnitudes),
    booleans, explicit nulls, missing keys, nested objects/arrays,
    non-object roots, truncated and non-JSON garbage, empty/whitespace
    strings, int64-overflow integers and -0 each planted at a few
    percent — every extraction hazard a 100 TB ingest's free-form JSON
    column actually serves. Duplicate keys are excluded (RFC 8259
    implementation-defined; the engines genuinely disagree).

    ``profile="husk"`` composes dust + nullstorm with null_out's
    at-least-one-NULL guarantee: 1-4-row fact tables where THE single
    order/event/line carries NULL payload fields — the n=1 x missing
    interaction (a lone event of NULL type through every stream path,
    a single order with NULL priority through mode/rank, the whole
    events table potentially one NULL measurement).

    ``profile="halfpoint"`` plants float32 embedding elements whose
    rounding input in ``embedding_quantize_int8`` (x / maxabs * 127) or
    ``sim_embedding_drift`` (x * 10000) is exactly k+0.5, where a rounding
    helper that is not half-away-from-zero on the binary value (half-even,
    a rounded ``y + 0.5``, a BigDecimal of the decimal string) parts from
    the oracle's ROUND. The other tables are the default profile's."""
    if profile not in DATA_PROFILES:
        raise ValueError(f"unknown data profile {profile!r}")
    rng = np.random.RandomState(seed)
    chaos = profile in ("chaos", "mayhem")
    void = profile == "void"
    eclipse = profile == "eclipse"
    husk = profile == "husk"
    nullstorm = eclipse or husk or profile == "nullstorm"
    dust = void or husk or profile == "dust"
    sparse = profile in ("sparse", "eclipse")
    tie_pools = profile == "ties"
    bignum = chaos or void or profile == "bignum"
    timewarp = chaos or void or profile == "timewarp"
    jsonrot = profile == "jsonrot"

    def null_out(arr, frac):
        """Replace ~frac of entries with NULL (nullstorm/eclipse only) —
        the missing-payload stress every real ingest eventually serves."""
        if not nullstorm:
            return arr
        if eclipse:
            frac *= 3.0  # NULL-majority cells: whole groups can be all-NULL
        mask = rng.rand(len(arr)) < frac
        out = [None if m else v for v, m in zip(list(arr), mask)]
        if not any(v is None for v in out) and len(out) > 0:
            out[int(rng.randint(0, len(out)))] = None  # at least one NULL
        return out
    os.makedirs(outdir, exist_ok=True)

    def cents(lo_c, hi_c, n):
        if bignum:
            # enterprise-scale money: scale every range up to ~1e10 cents
            # ($100M line items). Still exact in float64 (1e10 << 2^53) and
            # still the cents contract — but any op that squares cents, or
            # scales them by 1e6 (ppm) and then by a row count, in INT64
            # arithmetic overflows under ANSI. The value-scale sibling of
            # the decade stress's row-count overflow class (which caught
            # agg_gini_concentration in r4).
            scale = min(10_000, max(1, 10_000_000_000 // max(abs(hi_c), 1)))
            lo_c, hi_c = lo_c * scale, hi_c * scale
        if not tie_pools:
            return _cents(rng, lo_c, hi_c, n)
        # "ties" draws every money column from a 12-value pool: massive
        # exact collisions in ordering keys — any rank/sort/top-k without
        # a unique-key tie-break diverges between engines here
        pool = rng.randint(lo_c, hi_c, size=12).astype(np.int64)
        return pool[rng.randint(0, 12, size=n)] / 100.0

    def day_offsets(hi, n, pool_k):
        if not tie_pools:
            return rng.randint(0, hi, size=n).astype(np.int64)
        pool = rng.randint(0, hi, size=pool_k).astype(np.int64)
        return pool[rng.randint(0, pool_k, size=n)]

    def write(name: str, schema: pa.Schema, cols: dict) -> None:
        pq.write_table(pa.table(cols, schema=schema), f"{outdir}/{name}.parquet")

    # --- dims -------------------------------------------------------------
    write(
        "region",
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
    )
    n_nat = 25
    write(
        "nation",
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
        {
            "n_nationkey": np.arange(n_nat, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(n_nat)],
            "n_regionkey": rng.choice(5, size=n_nat, p=_probs(rng, 5)).astype(np.int32),
        },
    )

    n_cust = (rng.randint(1, 3) if dust
              else rng.randint(8, 30) if sparse else rng.randint(80, 260))
    write(
        "customer",
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.choice(n_nat, size=n_cust, p=_probs(rng, n_nat)).astype(np.int32),
            # negatives included: TPC-H acctbals go to -999.99
            "c_acctbal": cents(-99_999, 1_000_000, n_cust),
            "c_mktsegment": null_out(
                rng.choice(SEGMENTS, size=n_cust, p=_probs(rng, 5)), 0.12),
        },
    )

    n_supp = 1 if dust else rng.randint(2, 6) if sparse else rng.randint(4, 26)
    write(
        "supplier",
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.choice(n_nat, size=n_supp, p=_probs(rng, n_nat)).astype(np.int32),
            "s_acctbal": cents(-99_999, 1_000_000, n_supp),
        },
    )

    n_part = (rng.randint(1, 3) if dust
              else rng.randint(10, 40) if sparse else rng.randint(100, 320))
    write(
        "part",
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(ADJS)} {rng.choice(NOUNS)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 26)}" for _ in range(n_part)],
            "p_type": rng.choice(PTYPES, size=n_part, p=_probs(rng, 6)),
            "p_size": rng.randint(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": cents(10_000, 200_001, n_part),
        },
    )

    # --- facts ------------------------------------------------------------
    n_ord = (rng.randint(1, 5) if dust
             else rng.randint(30, 120) if sparse else rng.randint(800, 2600))
    # zipf-ish customer skew: weight ∝ rank^-s over a random permutation
    s = rng.uniform(0.4, 1.4)
    w = (np.arange(1, n_cust + 1, dtype=np.float64) ** -s)
    cust_w = w[rng.permutation(n_cust)]
    cust_w /= cust_w.sum()
    day0_us = 788_918_400_000_000  # 1995-01-01 UTC in µs
    if timewarp:
        # orders span 1965..2085: pre-epoch dates (negative µs), every
        # leap-year shape incl. the 2000 century rule, and far-future
        # decades — the stress for year/quarter extraction, month
        # arithmetic, and any integer bucket arithmetic that truncates
        # where it should floor (negative epochs flip the two)
        day0_us = -157_766_400_000_000  # 1965-01-01 UTC
    orderdate_us = day0_us + day_offsets(
        43_830 if timewarp else 2404, n_ord, 40
    ) * _DAY_US
    write(
        "orders",
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]),
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.choice(n_cust, size=n_ord, p=cust_w).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, size=n_ord, p=_probs(rng, 3)),
            "o_totalprice": cents(100_000, 40_000_000, n_ord),
            "o_orderdate": orderdate_us.astype("datetime64[us]"),
            "o_orderpriority": null_out(
                rng.choice(PRIORITIES, size=n_ord, p=_probs(rng, 5)), 0.12),
        },
    )

    # lineitem: 0..12 lines per order (p(0) ≈ 0.05 — orders without lines,
    # present in the driver data too), part/supp skewed but always valid FKs
    if dust:
        # 0-2 lines per order, never zero in total: the empty-group stress
        # stays, but the lineitem DOMAIN is guaranteed non-empty (an empty
        # fact table is a different validation class than a minimal one)
        lines_per = rng.choice(3, size=n_ord, p=np.array([0.3, 0.5, 0.2]))
        if lines_per.sum() == 0:
            lines_per[0] = 1
    else:
        lines_per = rng.choice(13, size=n_ord,
                               p=np.r_[0.05, _probs(rng, 12) * 0.95])
    ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(ok)
    ln = np.concatenate([np.arange(1, c + 1, dtype=np.int32) for c in lines_per if c])
    part_w = _probs(rng, n_part) if n_part <= 320 else None
    ship_lag = (1 + day_offsets(120, n_li, 5)) * _DAY_US
    write(
        "lineitem",
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]),
        {
            "l_orderkey": ok,
            "l_partkey": rng.choice(n_part, size=n_li, p=part_w).astype(np.int64),
            "l_suppkey": rng.choice(n_supp, size=n_li, p=_probs(rng, n_supp)).astype(np.int64),
            "l_linenumber": ln,
            "l_quantity": rng.randint(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": cents(90_000, 10_500_000, n_li),
            "l_discount": rng.randint(0, 11, size=n_li) / 100.0,
            "l_tax": rng.randint(0, 9, size=n_li) / 100.0,
            "l_returnflag": null_out(
                rng.choice(RETURNFLAGS, size=n_li, p=_probs(rng, 3)), 0.08),
            "l_linestatus": rng.choice(LINESTATUSES, size=n_li, p=_probs(rng, 2)),
            "l_shipdate": (orderdate_us[ok] + ship_lag).astype("datetime64[us]"),
        },
    )

    # events: ts monotone in event_id (block-stream contract) with occasional
    # exact-µs ties; zipf user skew; every event type present but skewed
    n_ev = (rng.randint(1, 5) if dust
            else rng.randint(25, 90) if sparse else rng.randint(600, 1600))
    n_users = (1 if dust
               else rng.randint(5, 15) if sparse else rng.randint(15, 61))
    if tie_pools:
        # draw instants from a small pool: many exact-microsecond collisions
        tpool = rng.randint(0, 30 * _DAY_US, size=max(20, n_ev // 6)).astype(np.int64)
        ts = np.sort(tpool[rng.randint(0, len(tpool), size=n_ev)])
    else:
        ts = np.sort(rng.randint(0, 30 * _DAY_US, size=n_ev).astype(np.int64))
    ties = rng.rand(n_ev) < 0.02
    ties[0] = False
    ts[ties] = ts[np.flatnonzero(ties) - 1]  # duplicate the previous µs
    if timewarp:
        # the event stream CROSSES epoch zero (starts 1969-12-17): a
        # classic upstream-parse pathology (epoch-0 defaults, s-vs-ms
        # confusion) every 100 TB ingest eventually serves. Hour/day
        # bucketing of negative µs diverges between floor and truncate.
        ts -= 15 * _DAY_US
    else:
        ts += 1_704_067_200_000_000  # 2024-01-01 UTC
    uw = (np.arange(1, n_users + 1, dtype=np.float64) ** -rng.uniform(0.4, 1.4))
    uw = uw[rng.permutation(n_users)]
    uw /= uw.sum()
    kx = rng.randint(0, 100, size=n_ev)
    shape = rng.rand(n_ev)
    if jsonrot:
        # The JSON-pathology regime: what a 100 TB free-form props column
        # actually serves. Valid simple ints dominate (aggregates stay
        # meaningful) with every extraction hazard planted at a few
        # percent each: string-typed ints and floats, JSON floats
        # (incl. exponent form and beyond-int64 magnitudes), booleans,
        # explicit nulls, missing keys, nested objects/arrays at the key,
        # non-object roots (array / scalar / bare string), TRUNCATED and
        # outright non-JSON garbage, empty/whitespace strings, negative
        # and int64-overflow integers, and -0. Duplicate keys are
        # deliberately EXCLUDED: RFC 8259 leaves their semantics
        # implementation-defined, and the engines genuinely disagree
        # (get_json_object/DuckDB first-wins, from_json last-wins,
        # variant NULL) — out of the correctness contract.
        kneg = kx - 50
        pool = [
            [f'{{"k": {k}}}' for k in kneg],                      # 0.00-0.34 valid int (neg+pos)
            [f'{{"k": " {k} "}}' for k in kx],                    # 0.34-0.36 space-padded string int
            [f'{{"k": "{k}\\n"}}' for k in kx],                   # 0.36-0.38 trailing-\n string int (Java $ trap)
            [f'{{"k": "\\u0001{k}"}}' for k in kx],               # 0.38-0.40 control-char-padded string int
            [f'{{"k": "{k}"}}' for k in kx],                      # 0.40-0.46 string-typed int
            [f'{{"k": {k}.5}}' for k in kx],                      # 0.46-0.52 float
            [f'{{"k": {k}e2}}' for k in kx],                      # 0.52-0.56 exponent form
            [f'{{"k": "{k}.5"}}' for k in kx],                    # 0.56-0.60 string-typed float
            ['{"k": true}'] * n_ev,                                # 0.60-0.63 boolean
            ['{"k": null}'] * n_ev,                                # 0.63-0.66 explicit null
            [f'{{"x": {k}}}' for k in kx],                        # 0.66-0.70 missing key
            [f'{{"k": {{"a": {k}}}}}' for k in kx],               # 0.70-0.73 nested object
            [f'{{"k": [{k}]}}' for k in kx],                      # 0.73-0.76 array at key
            [f'[{k}, 2]' for k in kx],                            # 0.76-0.79 array root
            ['"hello"'] * n_ev,                                    # 0.79-0.82 scalar root
            [f'{{"k": {k}' for k in kx],                          # 0.82-0.86 TRUNCATED
            ['not json'] * n_ev,                                   # 0.86-0.89 garbage
            [''] * n_ev,                                           # 0.89-0.91 empty string
            ['   '] * n_ev,                                        # 0.91-0.93 whitespace only
            ['{"k": 10000000000000000000}'] * n_ev,                # 0.93-0.95 > int64, fits uint64
            ['{"k": 99999999999999999999}'] * n_ev,                # 0.95-0.97 > uint64 (JSON double)
            [f'{{"k": "abc{k}x"}}' for k in kx],                  # 0.97-0.99 non-numeric string
            ['{"k": -0}'] * n_ev,                                  # 0.99-1.00 negative zero
        ]
        cuts = [0.34, 0.36, 0.38, 0.40, 0.46, 0.52, 0.56, 0.60, 0.63,
                0.66, 0.70, 0.73, 0.76, 0.79, 0.82, 0.86, 0.89, 0.91,
                0.93, 0.95, 0.97, 0.99]
        # bucket pick: idx = index of the first cut > shape
        idx = np.searchsorted(np.array(cuts), shape, side="right")
        props = np.array(
            [pool[i][j] for j, i in enumerate(idx)], dtype=object
        )
    elif chaos or profile == "edge":
        # JSON values with escape sequences and non-ASCII: both engines'
        # JSON parsers must agree on unescaping (\" \\ \n and raw UTF-8)
        props = np.where(
            shape < 0.04, "{}",
            np.where(shape < 0.08,
                     [f'{{"k": {k}, "x": "a\\"b\\\\c"}}' for k in kx],
                     np.where(shape < 0.12,
                              [f'{{"k": {k}, "x": "日本\\nz{k % 7}"}}' for k in kx],
                              [f'{{"k": {k}}}' for k in kx])),
        )
    else:
        props = np.where(
            shape < 0.04, "{}",
            np.where(shape < 0.08,
                     [f'{{"k": {k}, "x": "z{k % 7}"}}' for k in kx],
                     [f'{{"k": {k}}}' for k in kx]),
        )
    write(
        "events",
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]),
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.choice(n_users, size=n_ev, p=uw).astype(np.int64),
            "event_type": null_out(
                rng.choice(EVENT_TYPES, size=n_ev, p=_probs(rng, 5)), 0.06),
            "value": null_out(cents(1, 100_000, n_ev), 0.08),
            "props": null_out(props, 0.10),
        },
    )

    # documents: fresh base texts + verbatim-duplicate and near-duplicate
    # groups (the dedup ops must find THIS seed's groups, not seed-42's)
    longdoc = profile in ("longdoc", "mayhem")
    n_doc = rng.randint(60, 120) if longdoc else rng.randint(250, 700)
    edge = chaos or profile == "edge"
    vocab = np.array(
        EDGE_VOCAB if edge else UNI_VOCAB if profile == "unicode" else DOC_VOCAB
    )

    def join_words(words) -> str:
        """Join tokens — plain spaces normally; the edge profile mixes in
        newline / CRLF / tab / multi-space separators (real web text)."""
        if not edge:
            return " ".join(words)
        out: list[str] = []
        for j, w in enumerate(words):
            if j:
                out.append(EDGE_SEPS[rng.randint(0, len(EDGE_SEPS))])
            out.append(w)
        return "".join(out)

    texts: list[str] = []
    for i in range(n_doc):
        r = rng.rand()
        if i > 10 and r < 0.12:  # verbatim duplicate of an earlier doc
            texts.append(texts[rng.randint(0, i)])
        elif i > 10 and r < 0.20:  # near-duplicate: mutate 1-3 words
            words = texts[rng.randint(0, i)].split()
            if words:
                for _ in range(rng.randint(1, 4)):
                    words[rng.randint(0, len(words))] = rng.choice(vocab)
            texts.append(join_words(words))
        elif edge and r < 0.225:  # empty / whitespace-only document
            texts.append(["", " ", "\n", "\t", " \n ", "\r\n"][rng.randint(0, 6)])
        elif r < 0.23:  # degenerate: single word repeated (repetition stress)
            texts.append(join_words(
                [rng.choice(vocab)] * rng.randint(500, 2000 if longdoc else 501)
                if longdoc else [rng.choice(vocab)] * rng.randint(1, 40)
            ))
        else:
            texts.append(join_words(rng.choice(
                vocab,
                size=rng.randint(500, 4000) if longdoc else rng.randint(3, 450),
            )))
    write(
        "documents",
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": null_out(rng.choice(LANGS, size=n_doc, p=_probs(rng, 5)), 0.10),
            "source": null_out(
                rng.choice([f"src{i}" for i in range(20)], size=n_doc,
                           p=_probs(rng, 20)), 0.10),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )

    # embeddings: fresh mixture-of-Gaussians cluster structure, float32,
    # label = cluster (the ANN recall/quality gates need real clusters)
    n_vec = rng.randint(250, 700)
    k = rng.randint(6, 13)
    centers = rng.normal(0.0, 0.12, size=(k, 64))
    label = rng.choice(k, size=n_vec, p=_probs(rng, k)).astype(np.int32)
    emb = (centers[label] + rng.normal(0.0, 0.06, size=(n_vec, 64))).astype(np.float32)
    if chaos or profile == "vecdup":
        # duplicate-heavy embedding space: every vector is drawn VERBATIM
        # from a small pool (a deduplicated corpus re-embedded still has
        # exact duplicate vectors — same doc, same model), plus a few
        # exact ZERO vectors (failed/padded embedding batches at 100 TB).
        # Stresses: exact distance ties in every top-k (must be broken by
        # vec_id on both engines), equidistant-centroid assignment in
        # kmeans/IVF/PQ, and zero-norm cosine (0/0) semantics.
        n_pool = rng.randint(18, 40)
        pool_label = rng.choice(k, size=n_pool, p=_probs(rng, k)).astype(np.int32)
        pool = (centers[pool_label]
                + rng.normal(0.0, 0.06, size=(n_pool, 64))).astype(np.float32)
        pick = rng.randint(0, n_pool, size=n_vec)
        emb = pool[pick]
        label = pool_label[pick]
        n_zero = rng.randint(3, 9)
        zpos = rng.choice(n_vec, size=n_zero, replace=False)
        emb[zpos] = 0.0
        label[zpos] = k  # the origin "cluster"
    if profile == "halfpoint":
        _plant_halfpoints(rng, emb)
    write(
        "embeddings",
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(emb),
            "label": label,
        },
    )

    return {"n_cust": n_cust, "n_supp": n_supp, "n_part": n_part,
            "n_ord": n_ord, "n_li": n_li, "n_ev": n_ev,
            "n_doc": n_doc, "n_vec": n_vec}

