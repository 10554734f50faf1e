#!/usr/bin/env python3
"""Driver-harness simulation: the correctness gate, replayed faithfully.

Differences from tools/diffcheck.py (the strict local differential):

- VANILLA SparkSession — ``SparkSession.builder.master(...)`` with no
  engine configs, exactly how the external driver builds its session. This
  catches config assumptions our session factory would mask (ANSI mode,
  shuffle-partition counts, the events nanos-timestamp flag — which is why
  ``sources/batch.load_table`` must set what it needs at runtime).
- Entry through ``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()``
  — the driver's actual surface — rather than importing the registry.
- Default op set: the first N (50) ops of the registry's walk order
  (``registry.walk_order``), i.e. exactly the ops the next driver window
  will certify.
- The comparison itself is ``tools/diffcheck.run_ops``, so the sim also
  fails any DecimalType output, which the driver's hash rejects.

Usage:
    python tools/driver_sim.py [sf_dir] [n_window | op ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

from pyspark.sql import SparkSession

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from australis_indexer_spark.registry import OpSpec, load_all  # noqa: E402
from tools.diffcheck import connect_oracle, run_ops  # noqa: E402


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _window_ops(n: int) -> list[str]:
    # the walk puts never-seen and red-latest ops first, then the stalest
    # greens, so the driver's next window is simply the walk prefix
    return list(load_all())[:n]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # profile_parquet_metadata's oracle reads parquet FOOTERS by path and
    # bakes $SPARK_GRAFT_ORACLE_SF_DIR at operator-module import — point it
    # at the swept dataset BEFORE __spark_entry__/load_all import the
    # operator modules (as config/layout/fuzz tools do), or a sim over any
    # non-default directory compares two different datasets on that op
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    rest = sys.argv[2:]
    if len(rest) == 1 and rest[0].isdigit():
        names = _window_ops(int(rest[0]))
    elif rest:
        names = rest
    else:
        names = _window_ops(50)

    mod = _entry_module()
    qs, osql = mod.queries(), mod.oracle_sql()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        print(f"unknown ops: {unknown}")
        return 2
    # the driver's session: vanilla, no engine configs
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    # an op that oracle_sql() omits gets the driver's rows-only check
    ops = {name: OpSpec(name, fn, osql.get(name)) for name, fn in qs.items()}
    _, n_fail, _, _ = run_ops(spark, connect_oracle(sf_dir), ops, sf_dir, only=set(names))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
