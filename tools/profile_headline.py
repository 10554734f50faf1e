"""Per-op build-vs-exec profiling + before/after plan capture (guide §1).

For each headline op, ``telemetry.measure`` times (a) plan CONSTRUCTION —
the ``fn(spark, sf_dir)`` call, py4j + parse + any tuning collects — and (b)
EXECUTION — the noop-sink write of the returned frame — separately; each
half is the min over N cache-cold reps. This
splits the bench seconds into the driver-side and executor-side halves so an
optimization targets the one that is actually paying (r10 showed plan
construction dominates several headline ops at sf0.1).

With a ``<tag>/<suffix>`` argument (e.g. ``r12/before``) it also dumps
``.explain("formatted")`` per op into plans/<tag>/<op>_<suffix>.txt.

Usage: python tools/profile_headline.py [sf_dir] [reps] [<tag>/<suffix>] [ops...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE
from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session
from australis_indexer_spark.telemetry import measure


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    tag, _, suffix = (sys.argv[3] if len(sys.argv) > 3 else "").partition("/")
    if tag and not suffix:
        raise SystemExit("plan argument must be <tag>/<suffix>, e.g. r12/before")
    names = tuple(sys.argv[4:]) or HEADLINE
    spark = get_session("profile")
    ops = load_all()

    measure(spark, ops[names[0]].fn, sf_dir)  # warm-up

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / tag
    rows = []
    for name in names:
        recs = [measure(spark, ops[name].fn, sf_dir) for _ in range(reps)]
        rows.append((name, min(r["build_s"] for r in recs), min(r["exec_s"] for r in recs)))
        if suffix:
            plans_dir.mkdir(parents=True, exist_ok=True)
            df = ops[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{suffix}.txt").write_text(plan)

    print(f"{'op':34s} {'build':>7s} {'exec':>7s} {'total':>7s}")
    tot_b = tot_e = 0.0
    for name, b, e in rows:
        print(f"{name:34s} {b:7.3f} {e:7.3f} {b + e:7.3f}")
        tot_b += b
        tot_e += e
    print(f"{'TOTAL':34s} {tot_b:7.3f} {tot_e:7.3f} {tot_b + tot_e:7.3f}")


if __name__ == "__main__":
    main()
