"""The physical-layout invariance class, pinned in CI.

`tools/diffcheck.py --layout` rewrites every table with a seeded random row
permutation + prime (997-row) row groups and strict-diffs Spark reading
the SHUFFLED layout against DuckDB reading the ORIGINAL files — proving
answers are functions of data values, never of physical row order or
row-group boundaries (full-registry artifact: layout section of
INVARIANCE_r11.txt, 246/246). The full run is ~8 min; CI pins the ops a
row-order change would break first — position-sensitive picks (argmax,
mode, top-k, listagg), window frames, dedup winner selection, reservoir
sampling — on a shuffled copy of the smoke dataset.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMOKE  # noqa: E402
from tools.diffcheck import connect_oracle, run_ops, shuffle_layout  # noqa: E402

# Ops whose semantics involve picking/ordering — the first casualties of
# any hidden dependence on arrival order.
ORDER_SENSITIVE_OPS = [
    "agg_argmax_latest_order",    # argmax ties must break on values, not arrival
    "agg_mode_per_group",         # mode ties likewise
    "agg_listagg_ordered",        # ordered string agg
    "sort_topk_orders",           # top-k
    "window_rank_top_customers",  # rank over explicit ORDER BY
    "window_value_functions",     # first/last/nth_value frames
    "dedup_exact",                # duplicate-winner pick
    "sample_reservoir_uniform",   # hash-rank reservoir, not arrival-order
]

SEED = 405  # distinct from the full-sweep artifact seed (404)


@pytest.fixture(scope="module")
def shuffled_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layout_shuffled"))
    shuffle_layout(SF_SMOKE, d, SEED)
    return d


def test_order_sensitive_ops_layout_invariant(spark, ops, shuffled_dir):
    missing = [k for k in ORDER_SENSITIVE_OPS if k not in ops]
    assert not missing, f"ops vanished from registry: {missing}"
    subset = {k: ops[k] for k in ORDER_SENSITIVE_OPS}
    # Spark reads the permuted layout; the oracle reads the ORIGINAL
    # files — a pass proves layout-independence, not determinism-given-layout.
    con = connect_oracle(SF_SMOKE)
    n_pass, n_fail, _, failures = run_ops(spark, con, subset, shuffled_dir)
    assert n_fail == 0, f"layout-dependent answers: {failures}"
    assert n_pass == len(ORDER_SENSITIVE_OPS)
