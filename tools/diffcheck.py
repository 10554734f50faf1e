"""Local oracle-differential runner — a strict stand-in for the driver's
t2 correctness gate.

For every selected op: run the Spark query and its DuckDB oracle, sort
columns by name, sort rows, and compare **exactly** (no float tolerance —
the engine's determinism convention must make values bit-identical; see
functions/det.py). Stricter than any reasonable hash.

Four axes, each off by default; they compose:

- data     DATA, a dataset dir holding ``orders.parquet`` (default the
           gate's sf0.01), or ``--fuzz PROFILE:SEED ...``: a fresh dataset
           per token from ``tools/fuzz_differential.gen_dataset`` (a bare
           SEED is the default profile), each token in its own process
           because ``profile_parquet_metadata`` binds its oracle's dataset
           dir at operator import.
- layout   ``--layout SEED``: Spark reads a copy of the data with every
           table's rows permuted and 997-row row groups; the oracle reads
           the original files, so a pass proves layout-independence.
- conf     ``--conf PROFILE ...``: re-run under each of ``PROFILES`` in turn
           on one session; ``--conf`` alone runs all of them.
- session  ``--driver``: the driver's own shape, a vanilla ``local[8]``
           session with no engine configs and the ops taken from
           ``__spark_entry__.queries()`` / ``oracle_sql()``.

Ops are named after DATA (after ``--`` when a list option comes first); a
lone integer N selects the first N ops of the walk order, i.e. the driver's
next window; none selects every op. An unknown op or profile, or a DATA dir
without ``orders.parquet``, exits 2 before Spark starts. Generated and
shuffled datasets are removed on success and kept on failure. Exit 1 on
any failing op.

Usage:
    python tools/diffcheck.py [DATA] [OP ... | N]
    python tools/diffcheck.py --driver DATA 50
    python tools/diffcheck.py --layout 404 DATA
    python tools/diffcheck.py --conf serial microsplit -- DATA [OP ...]
    python tools/diffcheck.py --fuzz 1 sparse:11 -- [OP ...]
"""

from __future__ import annotations

import argparse
import importlib.util
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import date, datetime, timezone
from decimal import Decimal
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from australis_indexer_spark.registry import OpSpec, load_all  # noqa: E402
from australis_indexer_spark.scratch import scratch_dir  # noqa: E402
from australis_indexer_spark.session import get_session  # noqa: E402
from australis_indexer_spark.sources.batch import TABLES  # noqa: E402

DEFAULT_DATA = "/root/testdata/sf0.01"
ROW_GROUP_SIZE = 997  # prime, misaligned with every default batch size

# Cluster geometries a real deployment varies and no answer may depend on.
# Each profile perturbs runtime-settable SQL confs on the live session:
#
# - serial        one shuffle partition: all parallelism collapsed; any
#                 per-partition arithmetic (salting, two-phase prefix sums,
#                 distributed ntile) must degrade to the identical answer.
# - prime_noaqe   7 shuffle partitions (prime, coprime to every bucket/salt
#                 constant) with AQE disabled: no runtime re-planning safety
#                 net, hash placement scrambled.
# - nobroadcast   autoBroadcastJoinThreshold=-1: every non-hinted join falls
#                 back to sort-merge/shuffle — the exact fallback a 100 TB
#                 run hits when a "small" side outgrows the threshold.
# - microsplit    64 KiB input splits + openCost 0 + Arrow batches of 193
#                 rows: scans shatter into many tasks and every pandas_udf /
#                 mapInPandas kernel sees its data sliced into many small
#                 batches — kernels must be batch-shape-agnostic.
# - interpreted   whole-stage codegen off: the interpreted expression path
#                 (also what janino-overflow fallback produces at scale) must
#                 compute bit-identical values.
# - session_tz    spark.sql.session.timeZone=America/New_York: the driver
#                 harness never pins a session timezone, so a foreign-session
#                 host must not shift any answer (the engine-side twin of the
#                 oracle timezone audit in tests/test_registry.py).
#
# An op that shifts under any of these relies on partition layout
# (`spark_partition_id` leaking into values, per-partition seeded `rand`,
# unordered `collect_list`, float sums whose addition order matters, a
# pandas kernel assuming one batch per group): a wrong answer at scale.
PROFILES: dict[str, dict[str, str]] = {
    "serial": {"spark.sql.shuffle.partitions": "1"},
    "prime_noaqe": {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
    },
    "nobroadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "microsplit": {
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "193",
    },
    "interpreted": {"spark.sql.codegen.wholeStage": "false"},
    "session_tz": {"spark.sql.session.timeZone": "America/New_York"},
}


def _norm(v):
    """Dtype-faithful normalization: the driver's hash sees pandas dtypes, so
    an int64 ``2000`` and a float64 ``2000.0`` must NOT compare equal here
    (Python's ``2000 == 2000.0`` would mask exactly the HUGEINT→float64
    oracle bugs the driver catches). Scalars are tagged with a type letter."""
    if v is None:
        return None
    if type(v).__module__ == "numpy":
        if getattr(v, "ndim", 0):  # ndarray (array<...> columns) → list
            return ("arr", tuple(_norm(x) for x in v.tolist()))
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            # IEEE -0.0: Python's ``-0.0 == 0.0`` is True, so an untagged
            # tuple would wave a sign-of-zero divergence through while a
            # bit-pattern pandas hash (the driver's shape) distinguishes
            # the two encodings. Tag the negative zero distinctly.
            return ("f", "-0.0")
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        # Distinct tag: the engine convention FORBIDS decimals in oracle-checked
        # outputs (pandas bridges coerce them engine-specifically), so a Decimal
        # here must fail against the oracle's float — the driver's pandas-dtype
        # hash would. Coercing to ("f", float) masked agg_grouping_sets in r2.
        return ("dec", str(v))
    if isinstance(v, datetime):
        # Distinct tag for tz-aware values: DuckDB's TIMESTAMPTZ (e.g. bare
        # to_timestamp()) vs Spark's naive TIMESTAMP is a SCHEMA divergence
        # the driver's strict check fails — stripping tzinfo here waved the
        # stream_windowed_topk r5 red through every local sweep. Mirror the
        # Decimal precedent: normalize the instant to UTC but keep an
        # "aware" marker so naive-vs-aware never compares equal.
        if v.tzinfo is not None:
            return ("tz", v.astimezone(timezone.utc).replace(tzinfo=None).isoformat())
        # Tagged for the same reason as "tz": an UNTAGGED isoformat string
        # would compare equal to a STRING column holding the same text — a
        # STRING-vs-TIMESTAMP schema divergence the driver's dtype-strict
        # hash fails but every local sweep would wave through (the exact
        # shape of the r5 stream_windowed_topk red, one type over).
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        # tagged: hex text in a STRING column must not equal BINARY bytes
        return ("by", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        # tagged like every other non-string scalar family: an UNTAGGED
        # tuple would let an array<string> value spoof the tag tuples
        # themselves — ['d','2024-01-01'] comparing equal to a real DATE,
        # ['f','NaN'] to a DOUBLE NaN — the same cross-type seam one level
        # up (round-6 tools review)
        return ("arr", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        # struct/map scalars: Arrow toPandas and DuckDB fetch_df both
        # deliver these as Python dicts, and raw dict equality compares
        # the INNER values with Python semantics (``2000 == 2000.0`` is
        # True) — the int-vs-float dtype seam one container level down.
        # Normalize keys and values recursively, sort entries so map key
        # order can't matter, and tag distinctly so a struct never
        # compares equal to an array of pairs.
        return (
            "st",
            tuple(sorted(((_norm(k), _norm(x)) for k, x in v.items()), key=repr)),
        )
    return v


def _rows(df_pandas):
    cols = sorted(df_pandas.columns)
    recs = [tuple(_norm(v) for v in row) for row in df_pandas[cols].itertuples(index=False)]
    return cols, sorted(recs, key=repr)


def connect_oracle(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """DuckDB connection with the dataset's tables registered as views —
    the same registration the driver's t2 gate performs."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).is_dir():  # Spark-written dataset dir (e.g. scale_stress)
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _select(ops, names):
    """``ops`` cut to ``names`` (every op when empty). Raises ValueError
    naming any unknown op, so a misspelt name cannot run zero ops and
    report a clean pass."""
    unknown = sorted(set(names) - set(ops))
    if unknown:
        raise ValueError(f"unknown ops: {unknown}")
    return {k: v for k, v in ops.items() if not names or k in names}


def run_ops(spark, con, ops, sf_dir, only=None):
    """Run the strict Spark-vs-oracle diff for each op (of ``only``, when
    given; an unknown name there raises ValueError before any op runs);
    returns ``(n_pass, n_fail, n_rowsonly, failures)`` where ``failures``
    is the list of failing op names. Printing matches the historical CLI
    output so committed artifacts stay comparable across rounds."""
    n_pass = n_fail = n_rowsonly = 0
    failures: list[str] = []
    for name, spec in sorted(_select(ops, only or ()).items()):
        t0 = time.time()
        try:
            spark_df = spec.fn(spark, sf_dir)
            dec_cols = [
                f.name for f in spark_df.schema.fields
                if f.dataType.typeName() == "decimal"
            ]
            if dec_cols:
                # No op may emit DecimalType: pandas/DuckDB bridges coerce
                # decimals with engine-specific rounding, so the driver hash
                # can fail even when values match (the agg_grouping_sets r2 red).
                print(f"FAIL  {name}: DecimalType output columns {dec_cols}")
                n_fail += 1
                failures.append(name)
                continue
            sdf = spark_df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(spec.oracle).fetch_df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            n_fail += 1
            failures.append(name)
            continue
        scols, srows = _rows(sdf)
        ocols, orows = _rows(odf)
        if scols != ocols:
            print(f"FAIL  {name}: columns differ spark={scols} oracle={ocols}")
            n_fail += 1
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: row count spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(srows, orows) if a != b]
        if bad:
            print(f"FAIL  {name}: {len(bad)}/{len(srows)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return n_pass, n_fail, n_rowsonly, failures


def run_profile(spark, con, ops, sf_dir: str, name: str, confs: dict[str, str]):
    """``run_ops`` with ``confs`` set on the session, restored afterwards;
    returns ``(n_pass, n_fail, failures)``."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — conf unset
            saved[k] = None
        spark.conf.set(k, v)
    try:
        print(f"\n## profile {name}: {confs}")
        t0 = time.time()
        n_pass, n_fail, n_rowsonly, failures = run_ops(spark, con, ops, sf_dir)
        print(f"## profile {name}: {n_pass} pass, {n_fail} fail in {time.time()-t0:.0f}s")
        return n_pass, n_fail, failures
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def shuffle_layout(sf_dir: str, out_dir: str, seed: int) -> None:
    """Rewrite every table with a seeded row permutation and row groups of
    ``ROW_GROUP_SIZE``: the order and row-group boundaries a compaction,
    clustering rewrite or backfill produces at scale."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        perm = rng.permutation(tbl.num_rows)
        pq.write_table(
            tbl.take(perm),
            f"{out_dir}/{t}.parquet",
            row_group_size=ROW_GROUP_SIZE,
        )


def session(driver: bool = False):
    """The runner's Spark session: ``get_session()``, or with ``driver`` the
    vanilla ``local[8]`` session the driver harness builds (no engine
    configs, so config assumptions our factory would mask surface here).
    Either way managed tables go to a per-process warehouse dir: concurrent
    runs sharing ./spark-warehouse raced join_bucketed_colocated's
    saveAsTable on the table's _temporary/0 commit dir."""
    warehouse = os.path.join(scratch_dir("aispark_inv_lane_"), "warehouse")
    if not driver:
        return get_session("diffcheck", extra_conf={"spark.sql.warehouse.dir": warehouse})
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]").appName("driver-sim")
        .config("spark.sql.warehouse.dir", warehouse).getOrCreate()
    )


def _driver_ops() -> dict[str, OpSpec]:
    """The ops as the driver sees them: ``__spark_entry__.queries()``, an op
    that ``oracle_sql()`` omits getting the driver's rows-only check."""
    spec = importlib.util.spec_from_file_location("__spark_entry__", REPO / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    osql = mod.oracle_sql()
    return {name: OpSpec(name, fn, osql.get(name)) for name, fn in mod.queries().items()}


def _fuzz_token(tok: str) -> tuple[str, int]:
    from tools.fuzz_differential import DATA_PROFILES

    prof, _, seed = tok.rpartition(":")
    prof = prof or "default"
    if prof not in DATA_PROFILES or not seed.isdigit():
        raise ValueError(
            f"bad --fuzz token {tok!r}: want [PROFILE:]SEED, PROFILE one of "
            f"{', '.join(DATA_PROFILES)}"
        )
    return prof, int(seed)


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        usage="%(prog)s [--fuzz PROFILE:SEED ...] [--layout SEED] "
        "[--conf [PROFILE ...]] [--driver] [--] [DATA] [OP ... | N]",
        description="Strict Spark-vs-oracle differential over the registered ops.",
        epilog="--fuzz and --conf take every word after them: end the list "
        "with '--' before DATA or ops.",
    )
    p.add_argument("--fuzz", nargs="+", metavar="PROFILE:SEED",
                   help="generate a fresh dataset per token instead of reading DATA")
    p.add_argument("--layout", type=int, metavar="SEED",
                   help="Spark reads a row-permuted copy with 997-row row groups")
    p.add_argument("--conf", nargs="*", metavar="PROFILE",
                   help=f"re-run under each conf profile (none given: all of {', '.join(PROFILES)})")
    p.add_argument("--driver", action="store_true",
                   help="vanilla local[8] session, ops from __spark_entry__")
    p.add_argument("args", nargs="*", metavar="DATA, OP or N")
    return p


def main(argv: list[str] | None = None) -> int:
    p = _parser()
    a = p.parse_args(argv)
    profiles = list(PROFILES) if a.conf == [] else a.conf or []
    unknown = sorted(set(profiles) - set(PROFILES))
    if unknown:
        p.error(f"unknown profile(s) {unknown} (known: {', '.join(PROFILES)})")
    try:
        fuzz = [_fuzz_token(t) for t in a.fuzz or ()]
    except ValueError as e:
        p.error(str(e))
    if len(fuzz) > 1:
        # one process per dataset: profile_parquet_metadata binds its
        # oracle's dataset dir at operator import; also a fresh JVM each
        rest = [*(["--layout", str(a.layout)] if a.layout is not None else []),
                *(["--conf", *profiles] if profiles else []),
                *(["--driver"] if a.driver else []), "--", *a.args]
        rc = 0
        for tok in a.fuzz:
            r = subprocess.run([sys.executable, __file__, "--fuzz", tok, *rest], check=False)
            rc = rc or r.returncode
        return rc
    made: list[str] = []  # datasets written here: removed on success only
    if fuzz:
        names = a.args
        data = tempfile.mkdtemp(prefix="fuzz_sf_%s%d_" % fuzz[0])
        made.append(data)
    else:
        data, names = (a.args[0], a.args[1:]) if a.args else (DEFAULT_DATA, [])
        if not os.path.exists(os.path.join(data, "orders.parquet")):
            p.error(f"{data!r} is not a dataset dir (needs orders.parquet inside)")
        data = os.path.abspath(data)
    spark_dir = data
    if a.layout is not None:
        spark_dir = tempfile.mkdtemp(prefix=f"layout_shuffled_{Path(data).name}_{a.layout}_")
        made.append(spark_dir)
    # profile_parquet_metadata's oracle reads parquet footers by path and
    # binds $SPARK_GRAFT_ORACLE_SF_DIR at operator import: point it at the
    # files Spark reads, over any stale export, or that op compares two
    # datasets
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = spark_dir
    rc = 1
    try:
        rc = _run(a, fuzz, profiles, data, spark_dir, names)
    finally:
        for d in made:
            if rc == 1:
                print(f"== dataset kept: {d}")
            else:
                shutil.rmtree(d, ignore_errors=True)
    return rc


def _run(a, fuzz, profiles, data, spark_dir, names) -> int:
    ops = _driver_ops() if a.driver else load_all()
    if len(names) == 1 and names[0].isdigit():
        names = list(ops)[: int(names[0])]  # both sources list the walk order
    try:
        ops = _select(ops, names)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if fuzz:
        from tools.fuzz_differential import gen_dataset

        prof, seed = fuzz[0]
        sizes = gen_dataset(seed, data, prof)
        print(f"== seed {prof}:{seed}: {sizes} -> {data}")
    if a.layout is not None:
        shuffle_layout(data, spark_dir, a.layout)
        print(f"== layout shuffle seed {a.layout}: {data} -> {spark_dir} "
              f"(row order permuted, row groups of {ROW_GROUP_SIZE})")
    spark = session(a.driver)
    con = connect_oracle(data)  # the original files, also under --layout
    if not profiles:
        n_pass, n_fail, _, failures = run_ops(spark, con, ops, spark_dir)
    else:
        summary = [(name, *run_profile(spark, con, ops, spark_dir, name, PROFILES[name]))
                   for name in profiles]
        print("\n# invariance matrix summary")
        for name, n_p, n_f, fails in summary:
            tail = f"  FAILURES: {fails}" if fails else ""
            print(f"#   {name:12s} {n_p} pass, {n_f} fail{tail}")
        n_pass = sum(s[1] for s in summary)
        n_fail = sum(s[2] for s in summary)
        failures = sorted({f for s in summary for f in s[3]})
    if a.layout is not None:
        print(f"== layout invariance: {n_pass} pass, {n_fail} fail"
              f"{'  FAILURES: ' + str(failures) if failures else ''}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
