"""The randomized-data differential class, pinned in CI.

tools/fuzz_differential.py regenerates the ten engine tables with a fresh
seed-driven distribution, and `tools/diffcheck.py --fuzz` sweeps the strict
Spark-vs-DuckDB diff over the full registry (committed artifact:
FUZZCHECK_r11.txt). The full sweep is ~13 min/seed, so CI pins (a) the generator's data contract and (b) a
fast-op differential slice on one fixed seed — enough that a regression
in the harness or a freshly introduced distribution coupling in a core op
family fails `pytest` rather than waiting for the next full sweep.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.diffcheck import connect_oracle, run_ops  # noqa: E402
from tools.fuzz_differential import gen_dataset, halfpoint_counts  # noqa: E402

# Fast ops (sub-second at fuzz sizes) spanning the core families: agg,
# join, window, set, dedup, text, sampling, similarity, semistructured.
FAST_OPS = [
    "agg_hash_pricing_summary",
    "join_equi_revenue_by_nation",
    "join_anti_customers_without_orders",
    "window_rank_top_customers",
    "window_frame_running_spend",
    "sort_topk_orders",
    "set_except_churned_buyers",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "text_stats_quality",
    "text_token_count",
    "sample_split_hash",
    "sim_topk_bruteforce",
    "project_props_json",
    "agg_gini_concentration",
    "window_session_user",
]

SEED = 7  # NOT one of the full-sweep seeds — CI adds a fresh distribution


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_sf"))
    gen_dataset(SEED, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_generator_data_contract(fuzz_dir):
    """The invariants ops are allowed to assume (TESTDATA.md shape)."""
    con = duckdb.connect()
    q = lambda s: con.execute(s.replace("$D", fuzz_dir)).fetchone()[0]  # noqa: E731
    # primary keys unique
    for t, k in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                 ("part", "p_partkey"), ("events", "event_id"),
                 ("documents", "doc_id"), ("embeddings", "vec_id")]:
        assert q(f"SELECT COUNT(*) - COUNT(DISTINCT {k}) FROM '$D/{t}.parquet'") == 0
    # FKs valid (the engine does not promise outer-join semantics on scans)
    assert q("SELECT COUNT(*) FROM '$D/orders.parquet' WHERE o_custkey NOT IN "
             "(SELECT c_custkey FROM '$D/customer.parquet')") == 0
    assert q("SELECT COUNT(*) FROM '$D/lineitem.parquet' WHERE l_partkey NOT IN "
             "(SELECT p_partkey FROM '$D/part.parquet')") == 0
    # n_chars mirrors text; ts monotone in event_id (block-stream contract)
    assert q("SELECT COUNT(*) FROM '$D/documents.parquet' "
             "WHERE n_chars != length(text)") == 0
    assert q("SELECT COUNT(*) FROM (SELECT ts - lag(ts) OVER (ORDER BY event_id)"
             " AS d FROM '$D/events.parquet') WHERE d < INTERVAL 0 SECOND") == 0
    # money is cents-valued: round(x*100) recovers the intended integer
    # cents well within float64 error (the det.py integerize contract —
    # exact *100 equality is impossible for e.g. .07 in binary floats)
    assert q("SELECT COUNT(*) FROM '$D/lineitem.parquet' WHERE "
             "abs(l_extendedprice * 100 - round(l_extendedprice * 100)) > 1e-6") == 0
    # the adversarial structure is actually present
    assert q("SELECT COUNT(*) FROM (SELECT text FROM '$D/documents.parquet' "
             "GROUP BY text HAVING COUNT(*) > 1)") > 0, "no duplicate docs"
    assert q("SELECT COUNT(*) FROM (SELECT ts FROM '$D/events.parquet' "
             "GROUP BY ts HAVING COUNT(*) > 1)") > 0, "no tied timestamps"


def test_fast_ops_exact_on_fuzz_data(spark, ops, fuzz_dir):
    """The differential slice: every fast-family op is value-exact on a
    distribution none of them has ever seen."""
    con = connect_oracle(fuzz_dir)
    n_pass, n_fail, _, failures = run_ops(
        spark, con, ops, fuzz_dir, only=set(FAST_OPS)
    )
    assert n_fail == 0, f"fuzz differential failures: {failures}"
    assert n_pass == len(FAST_OPS)


# The four ops the round-4 fuzz sweeps caught, each pinned on the exact
# profile+seed that killed it: stream_corpus_ingest (default:1 — one-token
# docs hit descending sequence() under ANSI), agg_linear_trend (sparse —
# single-month nation divides by zero), agg_bitmap_set_ops (sparse:12 —
# shared-word zero-user pair), sink_zorder_stats (default:3 — 1-D pruning
# claim was distribution-luck).
REGRESSION_SLICES = [
    ("default", 1, {"stream_corpus_ingest"}),
    ("sparse", 11, {"agg_linear_trend"}),
    ("sparse", 12, {"agg_bitmap_set_ops", "agg_linear_trend"}),
    ("default", 3, {"sink_zorder_stats"}),
    # ties:31's 12-value price pool amplifies a .xx5 rounding boundary:
    # price_with_tax must follow the integer-cents convention, not
    # ROUND(double) whose half-way behavior differs between engines
    ("ties", 31, {"scalar_funcs_showcase"}),
    # unicode:22 killed the byte-level family's ASCII couplings: VARCHAR->
    # BLOB casts that error on non-ASCII, code-point LENGTH standing in
    # for byte counts, ord(char) standing in for byte values — all now
    # routed through the exact SQL UTF-8 bytestream (_utf8_bytes_cte)
    ("unicode", 22, {"multimodal_meta", "multimodal_decode_features",
                     "pipeline_media_curation", "scan_binary_files"}),
    # edge:51 killed scan_csv: a document with an embedded newline parsed
    # as multiple CSV records under the default one-record-per-line reader;
    # the fixed op needs multiLine + whitespace-preserving + \N-sentinel
    # options, and the round-trip oracle now md5-checksums the text itself
    ("edge", 51, {"scan_csv", "scan_jsonl"}),
    # vecdup:61 crashed all 8 cosine ops with ANSI DIVIDE_BY_ZERO on
    # zero-norm vectors (and stresses exact distance ties from verbatim-
    # duplicate embeddings); zero vectors are now excluded from every
    # cosine path on both engines (vectors.with_norm / pq._normed)
    ("vecdup", 61, {"sim_topk_bruteforce", "sim_ann_ivf",
                    "dedup_embedding_cosine", "dedup_embedding_lsh"}),
    # bignum:71 overflowed window_time_interpolate_linear's INT64
    # cents-delta × µs-gap numerator (~1e10 × ~1e12 > 2^63 — ANSI
    # ARITHMETIC_OVERFLOW); the product now runs in DECIMAL(38,0) /
    # HUGEINT, quotient back at BIGINT cents scale on both engines
    ("bignum", 71, {"window_time_interpolate_linear",
                    "agg_gini_concentration"}),
    # timewarp:81 (events crossing epoch zero, orders 1965..2085) killed
    # three ops: sample_temporal_split emitted a NULL boolean when one
    # split is empty (vacuously-no-leakage is now COALESCE TRUE — NULL
    # booleans are also a pandas-bridge dtype trap), and the two
    # watermarked streaming ops silently dropped every pre-epoch event
    # because Spark's event-time watermark initializes at epoch 0 (the
    # watermark clock now rides a +1e6-day uniform shift, _EVT_WM)
    ("timewarp", 81, {"sample_temporal_split", "window_session_stream",
                      "stream_late_data_policy"}),
    # edge:54's doc sample included an EMPTY document: its 0-byte blob
    # existed on disk but Spark's binaryFile listing silently skips
    # zero-length files — the ingest domain is now explicitly non-empty
    # blobs on both engines
    ("edge", 54, {"scan_binary_files"}),
    # dust:101 (minimal-cardinality regime: 1-customer segments, 2-row
    # lineitem) killed two: gini's ppm step divides by zero when every
    # balance in a segment equals the global min (uniform segment ⇒ G=0
    # limit, now CASE-guarded both engines), and the approx-percentile
    # flag used a 1%-of-VALUE tolerance where the sketch's actual
    # guarantee is a RANK band — a 2-row group's interpolated median sits
    # 23% from both elements while the sketch answer is rank-perfect
    # (flag rebuilt on exact order statistics at ⌊pos⌋−s..⌈pos⌉+s)
    ("dust", 101, {"agg_gini_concentration", "agg_percentiles_approx"}),
    # dust:102 (ONE order, ONE event — of a type the op filters out)
    # killed two more: join_null_safe_eq's zero-null-keys report row was
    # annihilated by a crossJoin against an empty filtered side (the
    # n_null_keys leg is now an always-one-row aggregate, COALESCE 0 on
    # both engines), and stream_stateful_cep crashed on approxQuantile's
    # EMPTY return for a stream with no click/purchase events (bounds
    # now degrade to four empty micro-batches -> the oracle's empty set)
    ("dust", 102, {"join_null_safe_eq", "stream_stateful_cep"}),
    # chaos:95 planted a zero vector among the first K_PQ vec_ids: PQ's
    # codebook init assumed `vec_id < K_PQ` maps onto slots, but _normed
    # excludes zero-norm vectors (the vecdup fix), so the dead vector's
    # slot stayed None and the assign expression crashed. Init now takes
    # the first K_PQ SURVIVING vectors (iterative.py's kmeans shape).
    ("chaos", 95, {"sim_ann_pq"}),
    # mayhem:133 planted a zero vector among the first N_QUERIES vec_ids:
    # the exact re-rank's query table was a POSITIONAL array indexed
    # query_id + 1, but _normed excludes dead vectors so surviving query
    # ids are not dense — element_at probed past the array end
    # (ArrayIndexOutOfBounds). The literal table is now a MAP keyed by
    # the actual query_id — the re-rank sibling of chaos:95's codebook
    # init assumption.
    ("mayhem", 133, {"sim_ann_pq"}),
    # husk:164's embedding geometry put true neighbors across >2 IVF
    # cells: the trained-IVF recall gate at FIXED nprobe=2 was
    # calibration luck (0.75 there). Serving now auto-tunes nprobe to
    # the 0.80 recall SLO (2 -> 4 -> ... -> K_TRAIN, where probing every
    # cell IS exact search) — the gate holds by construction.
    ("husk", 164, {"sim_ann_ivf_trained"}),
    # chaos:601 planted a zero vector among the first K_TRAIN vec_ids: it
    # became a k-means init centroid whose cluster mean stayed exactly
    # zero, and the cosine-assignment serving join then divided by
    # cnrm = 0 — an ANSI DIVIDE_BY_ZERO job kill. ivf_trained_serve now
    # drops zero-norm centroids before serving (mirroring the corpus-side
    # zero-vector exclusion in vectors.with_norm) and falls back to exact
    # brute force if NO centroid survives.
    ("chaos", 601, {"sim_ann_ivf_trained", "kmeans_train_centroids"}),
    # nullstorm:141 (NULLs planted in every payload column a real ingest
    # can fail to supply) killed TWELVE ops across seven root causes:
    # a pandas grouped-agg kernel crashing on astype(int64) of NaN
    # (udf_pandas_grouped_agg); three oracles unaware that to_json's
    # documented default OMITS null fields (json_encode, cbor_encode,
    # project_reencode_json — DuckDB concat additionally renders NULL as
    # ''); two inner equi-joins annihilating the NULL group key that both
    # aggregations had legitimately produced (agg_hll_daily_merge,
    # agg_percentiles_approx — now null-safe joins); two rank tie-breaks
    # on a nullable key diverging on the engines' opposite NULL-order
    # defaults (agg_mode_per_group, stream_windowed_topk — now pinned
    # NULLS LAST both sides); two order-statistic ops whose (n+1)/2 rank
    # silently shifted when NULL measures sorted FIRST in Spark but LAST
    # in DuckDB (agg_median_absolute_deviation,
    # agg_quantile_from_histogram — medians/quantiles are now over
    # PRESENT measurements); a NOT IN predicate returning NULL for a
    # NULL source and dropping rows the Spark CASE-ELSE kept
    # (multimodal_frame_sample); and f-string None rendering "None" into
    # a blob object key that the [a-z]+ path regex then mis-parsed as
    # lang "one" (scan_binary_files — missing lang is now BCP-47 'und')
    # eclipse:152 (sparse x nullstorm at tripled null fractions) produced
    # a user whose EVERY event value is NULL: the stateful kernel's
    # NaN-skipping pandas sum accumulated 0 while the oracle's bare SQL
    # SUM reported NULL — the accumulator contract is now explicit
    # (running spend starts at 0; oracle COALESCE 0)
    ("eclipse", 152, {"stream_stateful_running_totals"}),
    ("nullstorm", 141, {"udf_pandas_grouped_agg", "json_encode",
                        "cbor_encode", "project_reencode_json",
                        "agg_hll_daily_merge", "agg_percentiles_approx",
                        "agg_mode_per_group", "stream_windowed_topk",
                        "agg_median_absolute_deviation",
                        "agg_quantile_from_histogram",
                        "multimodal_frame_sample", "scan_binary_files"}),
    # jsonrot:240 (the JSON-pathology regime for free-form props) killed
    # all three props consumers, three distinct root causes: an ANSI
    # cast("long") crashing on the first string-typed float
    # (project_paths_canonical — k now surfaces iff the raw path text is
    # integer text, regex-pinned on both engines), the oracle's bare
    # json_extract CRASHING DuckDB's parser on malformed JSON and
    # coercing "12"/1.5 where from_json's strict typed parse does not
    # (project_props_json — json_valid + json_type gate), and
    # variant_get THROWING INVALID_VARIANT_CAST on a non-castable value
    # (project_props_variant — now try_variant_get, its cast ladder
    # mirrored case-by-case in SQL).
    ("jsonrot", 240, {"project_paths_canonical", "project_props_json",
                      "project_props_variant"}),
    # edge:250 (edge vocab extended with astral-plane 4-byte UTF-8 and
    # control characters incl. NUL and VERTICAL TAB) killed the two ops
    # that normalize whitespace with a bare \s+: Java's \s includes \x0B
    # where RE2's (DuckDB's) does not, so the fingerprint md5 and the
    # index token stream silently diverged on 430/575 docs. The
    # whitespace class is now pinned explicitly as [ \t\n\r\f\x0B] on
    # both engines.
    ("edge", 250, {"text_fingerprint", "pipeline_index_build"}),
    # halfpoint:255 plants embedding elements whose rounding input is
    # exactly k+0.5 (x / maxabs * 127 in the int8 quantizer, x * 10000 in
    # the drift monitor's cents(x, 4)): det.fround must round them half
    # away from zero on the binary value, as the oracle's ROUND does
    ("halfpoint", 255, {"embedding_quantize_int8", "sim_embedding_drift"}),
]


def test_halfpoint_profile_plants_half_points(tmp_path):
    """The halfpoint profile puts at least one element on a rounding half
    point for each op it targets; the default profile plants none."""
    import numpy as np
    import pyarrow.parquet as pq

    def counts(profile):
        d = tmp_path / profile
        gen_dataset(255, str(d), profile=profile)
        col = pq.read_table(d / "embeddings.parquet").column("embedding")
        return halfpoint_counts(np.array(col.to_pylist(), dtype=np.float32))

    n_quant, n_drift = counts("halfpoint")
    assert n_quant >= 1 and n_drift >= 1, (n_quant, n_drift)
    assert counts("default") == (0, 0)


@pytest.mark.parametrize("profile,seed,names", REGRESSION_SLICES)
def test_fuzz_kill_regressions(spark, ops, tmp_path, profile, seed, names):
    d = str(tmp_path / f"{profile}{seed}")
    gen_dataset(seed, d, profile=profile)
    con = connect_oracle(d)
    n_pass, n_fail, _, failures = run_ops(spark, con, ops, d, only=names)
    assert n_fail == 0, f"regressed fuzz kills: {failures}"
    assert n_pass == len(names)
