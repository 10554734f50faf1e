"""Mutation sensitivity of the strict differential comparator.

Every correctness claim in this repo rides on tools/diffcheck.run_ops —
so the comparator itself must be proven to REJECT near-miss outputs, not
just accept matching ones (a comparator that normalized too aggressively
would wave wrong answers through every sweep). Each case here feeds the
REAL run_ops gate a fabricated op whose Spark output deviates from its
VALUES oracle by exactly one minimal mutation and asserts the gate fails;
the unmutated control and a row-order permutation (the one difference the
gate must IGNORE) assert pass.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.diffcheck import run_ops  # noqa: E402

SF = "/root/testdata/sf0.001"  # unused by the fabricated ops


def _gate(spark, fn, oracle):
    ops = {"probe": SimpleNamespace(fn=fn, oracle=oracle)}
    con = duckdb.connect()
    n_pass, n_fail, _n_rowsonly, failures = run_ops(spark, con, ops, SF)
    return n_pass, n_fail


ORACLE = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'alpha', 1.5),
  (CAST(2 AS BIGINT), 'beta',  2.5),
  (CAST(3 AS BIGINT), NULL,    3.5)
) t(k, name, score)
"""


def _base_rows():
    return [(1, "alpha", 1.5), (2, "beta", 2.5), (3, None, 3.5)]


def _df(spark, rows, schema="k long, name string, score double"):
    return spark.createDataFrame(rows, schema)


def test_control_passes_and_row_order_is_ignored(spark):
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, _base_rows()), ORACLE)
    assert (n_pass, n_fail) == (1, 0)
    permuted = [_base_rows()[2], _base_rows()[0], _base_rows()[1]]
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, permuted), ORACLE)
    assert (n_pass, n_fail) == (1, 0)


@pytest.mark.parametrize(
    "mutation",
    [
        pytest.param(lambda r: r[:-1], id="dropped-row"),
        pytest.param(lambda r: r + [r[-1]], id="duplicated-row"),
        pytest.param(
            lambda r: [(2, "alpha", 1.5)] + r[1:], id="int-plus-one"
        ),
        pytest.param(
            lambda r: [(1, "alpha", math.nextafter(1.5, 2.0))] + r[1:],
            id="float-one-ulp",
        ),
        pytest.param(
            lambda r: [(1, "Alpha", 1.5)] + r[1:], id="string-case"
        ),
        pytest.param(
            lambda r: [(1, None, 1.5)] + r[1:], id="value-to-null"
        ),
        pytest.param(
            lambda r: r[:2] + [(3, "gamma", 3.5)], id="null-to-value"
        ),
    ],
)
def test_value_mutations_fail(spark, mutation):
    rows = mutation(_base_rows())
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, rows), ORACLE)
    assert (n_pass, n_fail) == (0, 1)


def test_column_rename_fails(spark):
    n_pass, n_fail = _gate(
        spark,
        lambda s, _: _df(
            s, _base_rows(), schema="k long, label string, score double"
        ),
        ORACLE,
    )
    assert (n_pass, n_fail) == (0, 1)


def test_int_float_dtype_drift_fails(spark):
    """1 (int) vs 1.0 (float) must NOT be normalized into equality — the
    driver's pandas-dtype hash distinguishes them, so the local gate must
    too."""
    rows = [(1.0, "alpha", 1.5), (2.0, "beta", 2.5), (3.0, None, 3.5)]
    n_pass, n_fail = _gate(
        spark,
        lambda s, _: _df(s, rows, schema="k double, name string, score double"),
        ORACLE,
    )
    assert (n_pass, n_fail) == (0, 1)


def test_decimal_output_is_rejected_outright(spark):
    """DecimalType is forbidden in oracle-checked outputs (engine-specific
    pandas coercion — the agg_grouping_sets r2 red); the gate must fail it
    even when the values would match."""
    from pyspark.sql import functions as F

    def fn(s, _):
        return _df(s, _base_rows()).select(
            F.col("k").cast("decimal(10,0)").alias("k"), "name", "score"
        )

    n_pass, n_fail = _gate(spark, fn, ORACLE)
    assert (n_pass, n_fail) == (0, 1)


def test_spark_exception_is_a_fail_not_a_crash(spark):
    def fn(s, _):
        raise RuntimeError("operator blew up")

    n_pass, n_fail = _gate(spark, fn, ORACLE)
    assert (n_pass, n_fail) == (0, 1)


def test_timestamptz_vs_naive_fails(spark):
    """DuckDB's bare to_timestamp() yields TIMESTAMP WITH TIME ZONE while
    Spark's window().start is a naive TIMESTAMP — the driver's strict schema
    check fails that pair even when the instants agree. The r5 red
    (stream_windowed_topk) slipped through every local sweep because _norm
    used to strip tzinfo; the gate must now reject naive-vs-aware."""
    from datetime import datetime

    # Same instant on both sides; only tz-awareness differs.
    oracle_tz = "SELECT to_timestamp(1704096000) AS ts, CAST(1 AS BIGINT) AS k"
    rows = [(datetime(2024, 1, 1, 8, 0, 0), 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="ts timestamp, k long"), oracle_tz
    )
    assert (n_pass, n_fail) == (0, 1)

    # Control: CAST(... AS TIMESTAMP) — the repo-wide oracle convention —
    # strips the tz and the same Spark output passes.
    oracle_naive = (
        "SELECT CAST(to_timestamp(1704096000) AS TIMESTAMP) AS ts, "
        "CAST(1 AS BIGINT) AS k"
    )
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="ts timestamp, k long"), oracle_naive
    )
    assert (n_pass, n_fail) == (1, 0)


def test_naive_timestamp_value_shift_fails(spark):
    """A one-second shift in a naive timestamp value must fail."""
    from datetime import datetime

    oracle = (
        "SELECT CAST('2024-01-01 08:00:00' AS TIMESTAMP) AS ts, "
        "CAST(1 AS BIGINT) AS k"
    )
    good = [(datetime(2024, 1, 1, 8, 0, 0), 1)]
    bad = [(datetime(2024, 1, 1, 8, 0, 1), 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, good, schema="ts timestamp, k long"), oracle
    )
    assert (n_pass, n_fail) == (1, 0)
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, bad, schema="ts timestamp, k long"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)


def test_norm_tz_semantics():
    """_norm unit contract: aware values normalize to the UTC instant but
    keep a distinct "tz" tag; equal instants in different offsets compare
    equal, different instants differ, and aware never equals naive even at
    the same wall-clock reading."""
    from datetime import datetime, timedelta, timezone

    from tools.diffcheck import _norm

    utc = timezone.utc
    plus2 = timezone(timedelta(hours=2))
    aware_utc = datetime(2024, 1, 1, 12, 0, tzinfo=utc)
    same_instant_plus2 = datetime(2024, 1, 1, 14, 0, tzinfo=plus2)
    other_instant_plus2 = datetime(2024, 1, 1, 12, 0, tzinfo=plus2)
    naive_same_wallclock = datetime(2024, 1, 1, 12, 0)

    assert _norm(aware_utc) == _norm(same_instant_plus2)
    assert _norm(aware_utc) != _norm(other_instant_plus2)
    assert _norm(aware_utc) != _norm(naive_same_wallclock)
    assert isinstance(_norm(aware_utc), tuple) and _norm(aware_utc)[0] == "tz"


def test_binary_value_mutation_fails(spark):
    oracle = "SELECT * FROM (VALUES (CAST(1 AS BIGINT), '\\xDE\\xAD'::BLOB)) t(k, payload)"
    good = [(1, bytes([0xDE, 0xAD]))]
    bad = [(1, bytes([0xDE, 0xAE]))]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, good, schema="k long, payload binary"), oracle
    )
    assert (n_pass, n_fail) == (1, 0)
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, bad, schema="k long, payload binary"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)


def test_string_vs_temporal_and_binary_type_drift_fails(spark):
    """The r5 lesson one type over: an UNTAGGED normalization would let a
    STRING column whose text happens to equal a timestamp's isoformat, a
    date's isoformat, or a blob's hex compare equal to the differently-
    TYPED oracle column — a schema divergence the driver's dtype-strict
    hash fails. _norm now tags temporal ("ts"/"d") and binary ("by")
    scalars, so these cross-type coincidences must all fail."""
    from datetime import date, datetime

    # STRING vs TIMESTAMP, same printable text
    oracle = "SELECT CAST('2024-01-02 03:04:05' AS TIMESTAMP) AS ts, CAST(1 AS BIGINT) AS k"
    rows = [("2024-01-02T03:04:05", 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="ts string, k long"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)

    # STRING vs DATE, same printable text
    oracle = "SELECT CAST('2024-01-02' AS DATE) AS d, CAST(1 AS BIGINT) AS k"
    rows = [("2024-01-02", 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="d string, k long"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)

    # STRING (hex text) vs BINARY, same hex rendering
    oracle = "SELECT '\\xDE\\xAD'::BLOB AS payload, CAST(1 AS BIGINT) AS k"
    rows = [("dead", 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="payload string, k long"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)

    # DATE vs midnight TIMESTAMP: cross-type temporal must also fail
    oracle = "SELECT CAST('2024-01-02 00:00:00' AS TIMESTAMP) AS d, CAST(1 AS BIGINT) AS k"
    rows = [(date(2024, 1, 2), 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="d date, k long"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)

    # controls: matched types still pass (timestamp↔timestamp tested above;
    # binary↔binary in test_binary_value_mutation_fails; pin string↔string)
    oracle = "SELECT '2024-01-02T03:04:05' AS ts, CAST(1 AS BIGINT) AS k"
    rows = [("2024-01-02T03:04:05", 1)]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, rows, schema="ts string, k long"), oracle
    )
    assert (n_pass, n_fail) == (1, 0)


def test_array_values_cannot_spoof_scalar_tags():
    """_norm unit contract (round-6 tools review): sequences are tagged
    'arr', so an array<string> value can never compare equal to the tag
    tuple of a differently-typed SCALAR — ['d','2024-01-01'] vs a real
    DATE, ['f','NaN'] vs a DOUBLE NaN, ['ts',...] vs a TIMESTAMP,
    ['by','ab12'] vs a BLOB — cross-type divergences the driver's
    dtype-strict hash fails while an untagged tuple waved them through."""
    from datetime import date, datetime

    from tools.diffcheck import _norm

    assert _norm(["f", "NaN"]) != _norm(float("nan"))
    assert _norm(["d", "2024-01-01"]) != _norm(date(2024, 1, 1))
    assert _norm(["ts", "2024-01-01T00:00:00"]) != _norm(datetime(2024, 1, 1))
    assert _norm(["by", "ab12"]) != _norm(bytes([0xAB, 0x12]))
    assert _norm(["st", []]) != _norm({})
    # arrays still compare with arrays, recursively normalized
    assert _norm([1, 2.5, None]) == _norm((1, 2.5, None))
    assert _norm([1]) != _norm([1.0])  # dtype strictness reaches elements
    assert _norm([[1]]) != _norm([1])  # nesting depth is part of identity


def test_array_column_mutations_fail_and_control_passes(spark):
    """The 'arr' tag through the REAL gate: matched array<bigint> columns
    pass, an element dtype drift (int vs float) fails, and an
    array-of-text vs scalar-date cross-type fails."""
    oracle = "SELECT CAST(1 AS BIGINT) AS k, [CAST(7 AS BIGINT), CAST(9 AS BIGINT)] AS xs"
    good = [(1, [7, 9])]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, good, schema="k long, xs array<long>"), oracle
    )
    assert (n_pass, n_fail) == (1, 0)

    drift = [(1, [7.0, 9.0])]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, drift, schema="k long, xs array<double>"), oracle
    )
    assert (n_pass, n_fail) == (0, 1)

    oracle_date = "SELECT CAST(1 AS BIGINT) AS k, CAST('2024-01-02' AS DATE) AS xs"
    spoof = [(1, ["d", "2024-01-02"])]
    n_pass, n_fail = _gate(
        spark, lambda s, _: _df(s, spoof, schema="k long, xs array<string>"), oracle_date
    )
    assert (n_pass, n_fail) == (0, 1)


def test_negative_zero_vs_positive_zero_fails(spark):
    """IEEE -0.0 and +0.0 are ``==`` in Python, but a bit-pattern pandas
    hash (the driver's shape) distinguishes the two float64 encodings —
    an untagged ("f", v) tuple would wave the sign divergence through
    every local sweep. The gate must reject -0.0 vs 0.0 and still accept
    the matched-sign controls."""
    oracle_pos = "SELECT CAST(1 AS BIGINT) AS k, CAST(0.0 AS DOUBLE) AS z"
    # NB: DuckDB folds the numeric literal CAST(-0.0 AS DOUBLE) to +0.0;
    # the string cast preserves the IEEE sign bit.
    oracle_neg = "SELECT CAST(1 AS BIGINT) AS k, CAST('-0.0' AS DOUBLE) AS z"
    pos = [(1, 0.0)]
    neg = [(1, -0.0)]
    schema = "k long, z double"

    # mismatched sign of zero, both directions: fail
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, neg, schema=schema), oracle_pos)
    assert (n_pass, n_fail) == (0, 1)
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, pos, schema=schema), oracle_neg)
    assert (n_pass, n_fail) == (0, 1)

    # matched sign, both signs: pass
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, pos, schema=schema), oracle_pos)
    assert (n_pass, n_fail) == (1, 0)
    n_pass, n_fail = _gate(spark, lambda s, _: _df(s, neg, schema=schema), oracle_neg)
    assert (n_pass, n_fail) == (1, 0)


def test_struct_inner_dtype_drift_fails(spark):
    """Struct/map scalars reach the comparator as Python dicts on BOTH
    sides (Arrow toPandas and DuckDB fetch_df), and raw dict equality
    compares inner values with Python semantics — ``{'a': 1} ==
    {'a': 1.0}`` is True — so an int-vs-float divergence INSIDE a struct
    column is the r5 normalization class one container level down. _norm
    now recurses into dict values, so the drift must fail while the
    matched struct control passes. (No registered op emits struct output
    columns today — the schema-parity audit pins that — so this guards
    the comparator itself, not a live op.)"""
    from pyspark.sql import functions as F

    def struct_fn(inner_cast):
        def fn(s, _):
            return _df(s, [(1,)], schema="k long").select(
                "k",
                F.struct(F.lit(7).cast(inner_cast).alias("a")).alias("payload"),
            )

        return fn

    oracle_int = "SELECT CAST(1 AS BIGINT) AS k, {'a': CAST(7 AS BIGINT)} AS payload"
    oracle_float = "SELECT CAST(1 AS BIGINT) AS k, {'a': CAST(7 AS DOUBLE)} AS payload"

    # inner int vs inner float, both directions: fail
    n_pass, n_fail = _gate(spark, struct_fn("double"), oracle_int)
    assert (n_pass, n_fail) == (0, 1)
    n_pass, n_fail = _gate(spark, struct_fn("long"), oracle_float)
    assert (n_pass, n_fail) == (0, 1)

    # matched inner types: pass
    n_pass, n_fail = _gate(spark, struct_fn("long"), oracle_int)
    assert (n_pass, n_fail) == (1, 0)
    n_pass, n_fail = _gate(spark, struct_fn("double"), oracle_float)
    assert (n_pass, n_fail) == (1, 0)


def test_unknown_op_names_are_rejected_before_any_op_runs(ops):
    """A misspelt op name must not select zero ops and report a clean
    0-pass, 0-fail run; no Spark is needed to see it."""
    with pytest.raises(ValueError, match="agg_hash_pricing_sumary"):
        run_ops(None, None, ops, SF, only={"agg_hash_pricing_sumary"})


@pytest.mark.parametrize("args", [
    [SF, "agg_hash_pricing_sumary"],
    ["--conf", "seril", "--", SF],
    ["--fuzz", "chaoss:1"],
    ["BARE"],
], ids=["unknown-op", "unknown-conf", "unknown-fuzz-profile", "bare-dir"])
def test_runner_usage_errors_exit_2_before_spark(tmp_path, args):
    import subprocess

    tool = Path(__file__).resolve().parent.parent / "tools" / "diffcheck.py"
    args = [str(tmp_path) if a == "BARE" else a for a in args]
    r = subprocess.run([sys.executable, str(tool), *args],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 2, r.stdout + r.stderr
    assert "error:" in r.stderr
    assert "log4j" not in r.stderr  # the JVM never started
