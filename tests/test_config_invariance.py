"""The config/parallelism-invariance class, pinned in CI.

`tools/diffcheck.py --conf` re-runs the FULL registry strict-exact under
the perturbed cluster geometries (committed artifact: INVARIANCE_r11.txt).
The full matrix is ~25 min, so CI pins the ops whose
implementations genuinely lean on partition arithmetic or Python batch
shape — the ones a geometry change would break first — under the two
most aggressive profiles:

- serial     one shuffle partition: salting, two-phase prefix sums and
             distributed ntile all collapse onto a single partition and
             must degrade to the identical answer.
- microsplit 64 KiB input splits + 193-row Arrow batches: every scan
             shatters and every pandas kernel sees its group sliced into
             many small batches — kernels must be batch-shape-agnostic.

A failure here means an answer depends on HOW the cluster was carved,
which at 100 TB (where every one of these knobs differs from local[32])
is a silent wrong answer.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_ORACLE  # noqa: E402
from tools.diffcheck import PROFILES, connect_oracle, run_profile  # noqa: E402

TOOL = Path(__file__).resolve().parent.parent / "tools" / "diffcheck.py"

# Each op here embeds a partition- or batch-shape assumption that the
# geometry perturbation directly attacks.
GEOMETRY_SENSITIVE_OPS = [
    "join_skew_salted",           # salt-bucket dim replication
    "window_ntile_distributed",   # two-phase (partial rank, merge) ntile
    "pipeline_pack_sequences",    # per-partition prefix sum, 1 row/partition to driver
    "agg_listagg_ordered",        # ordered string agg — collect order must be pinned
    "sample_reservoir_uniform",   # deterministic hash-rank reservoir
    "agg_percentiles_exact",      # exact order statistics across partitions
    "udf_pandas_grouped_agg",     # pandas kernel — group may arrive in many batches
    "udf_pandas_scalar_batch",    # scalar pandas UDF — Arrow batch boundaries
    "multimodal_decode_real",     # per-row codecs inside mapInPandas batches
]


def test_geometry_sensitive_ops_invariant(spark, ops):
    missing = [k for k in GEOMETRY_SENSITIVE_OPS if k not in ops]
    assert not missing, f"ops vanished from registry: {missing}"
    subset = {k: ops[k] for k in GEOMETRY_SENSITIVE_OPS}
    con = connect_oracle(SF_ORACLE)
    for profile in ("serial", "microsplit"):
        n_pass, n_fail, failures = run_profile(
            spark, con, subset, SF_ORACLE, profile, PROFILES[profile]
        )
        assert n_fail == 0, f"{profile}: geometry-dependent answers: {failures}"
        assert n_pass == len(GEOMETRY_SENSITIVE_OPS)


# Ops whose values pass through timestamp semantics end-to-end — event-time
# windows, calendar bucketing, streaming clocks, date arithmetic. A session-
# timezone dependence surfaces here first (the r6-fixed events-rebuild and
# CEP-clock hazards both lived in this set).
TZ_SENSITIVE_OPS = [
    "window_time_hourly_events",   # hour bucketing of events.ts
    "window_time_ohlc_bars",       # time-bar assignment
    "agg_dau_wau_mau",             # calendar-day rollups
    "agg_anomalous_hours",         # hour-of-day extraction
    "sample_temporal_split",       # date-boundary split
    "stream_windowed_topk",        # streaming window + epoch bucket math
    "stream_stateful_cep",         # µs clock inside stateful matcher
    "window_session_stream",       # session windows over event time
    "merge_scd2_dimension",        # validity-interval timestamps
]


def test_tz_sensitive_ops_invariant_under_foreign_session_tz(spark, ops):
    """VERDICT r6 #3: the driver never pins spark.sql.session.timeZone, so
    a non-UTC harness session must not shift any answer. The full-registry
    sweep is `tools/diffcheck.py --conf session_tz` (artifact
    INVARIANCE_r7); CI pins the ops whose values pass through timestamp
    semantics under the same profile."""
    missing = [k for k in TZ_SENSITIVE_OPS if k not in ops]
    assert not missing, f"ops vanished from registry: {missing}"
    subset = {k: ops[k] for k in TZ_SENSITIVE_OPS}
    con = connect_oracle(SF_ORACLE)
    n_pass, n_fail, failures = run_profile(
        spark, con, subset, SF_ORACLE, "session_tz", PROFILES["session_tz"]
    )
    assert n_fail == 0, f"session-timezone-dependent answers: {failures}"
    assert n_pass == len(TZ_SENSITIVE_OPS)


def test_cli_rejects_non_dataset_directories(tmp_path):
    """The runner must not adopt an arbitrary local directory as the
    dataset (ADVICE r5): only a directory with the fixture layout
    (orders.parquet inside) is a dataset, and anything else exits 2 BEFORE
    any Spark work starts."""
    import subprocess

    # an existing directory WITHOUT the fixture layout is rejected…
    bare = tmp_path / "serial-ish"
    bare.mkdir()
    r = subprocess.run(
        [sys.executable, str(TOOL), "--conf", "serial", "--", str(bare)],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "orders.parquet" in r.stderr

    # …and so is a token that is neither a profile nor a directory
    r = subprocess.run(
        [sys.executable, str(TOOL), "--conf", "not_a_profile_or_dir"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2


def test_cli_rejects_unknown_fuzz_profiles():
    """The --fuzz path must validate profile names exactly like the
    non-fuzz path (round-6 tools review): a typo'd geometry name would
    otherwise match nothing, sweep zero ops, and exit 0 — a vacuous green
    from a verification gate."""
    import subprocess

    r = subprocess.run(
        [sys.executable, str(TOOL), "--fuzz", "chaos:201", "--conf", "seril"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 2
    assert "unknown profile" in r.stderr


def test_lanes_get_isolated_warehouse_dirs():
    """Concurrent single-profile lanes must not share a spark-warehouse:
    the r9 invariance sweep's first concurrent pass raced two lanes'
    join_bucketed_colocated saveAsTable on one table's _temporary/0 commit
    dir (VERDICT r9 'Next round' #3). The runner's session helper gives
    each process its own spark.sql.warehouse.dir, so two fresh processes
    must report DIFFERENT warehouse dirs, neither the shared default."""
    import os
    import subprocess

    probe = (
        "import sys; sys.path.insert(0, %r)\n"
        "from tools.diffcheck import session\n"
        "print(session().conf.get('spark.sql.warehouse.dir'))\n"
    ) % str(TOOL.parent.parent)
    dirs = []
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True, text=True, timeout=180,
            env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        dirs.append(r.stdout.strip().splitlines()[-1])
    assert dirs[0] != dirs[1]
    assert all("aispark_inv_lane_" in d for d in dirs)
