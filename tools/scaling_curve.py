"""Scaling curve: run the headline suite at every available scale factor and
report per-query wall time plus the sf0.01 → sf0.1 scaling exponent.

The point of the artifact (SCALING.md): show that headline operators scale
*sublinearly-to-linearly* with data volume at a fixed core count — i.e.
their cost is shuffle/compute-bound, not driver- or plan-bound. An operator
whose time is flat across 100× data is overhead-dominated at these sizes
(fine); one whose exponent is ≥ ~1 is data-bound and its 100 TB behavior is
governed by the plan shape documented in PLANS.md; anything superlinear
would be a red flag (quadratic pair blowup, collapsing partitions).

exponent = log(t(sf=0.1) / t(sf=0.01)) / log(10)  — slope on the log-log
line through the two largest scale factors.

Usage: python tools/scaling_curve.py   (writes SCALING.md)
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE
from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session
from australis_indexer_spark.telemetry import measure
from tools.docsplice import splice_section

SFS = ("0.001", "0.01", "0.1")
REPEATS = 3  # take the min: strips GC/JIT/page-cache noise, keeps the
             # data-bound cost (every measure() run is cache-cold)
_MARK = "# SCALING — headline suite across scale factors"


def main() -> None:
    spark = get_session("scaling")
    ops = load_all()
    # warm-up: JVM/codegen/Arrow init off the measured runs
    measure(spark, ops[HEADLINE[0]].fn, f"/root/testdata/sf{SFS[0]}")

    times: dict[str, dict[str, float]] = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        for name in HEADLINE:
            recs = [measure(spark, ops[name].fn, sf_dir) for _ in range(REPEATS)]
            times.setdefault(name, {})[sf] = min(r["build_s"] + r["exec_s"] for r in recs)

    lines = [
        f"{_MARK} (defaultParallelism {spark.sparkContext.defaultParallelism})",
        "",
        "Wall-clock seconds (best of %d) per op per sf; `exp` is the log-log"
        % REPEATS,
        "slope between sf0.01 and sf0.1 (1.0 = linear in data size; ~0 =",
        "overhead-dominated at these sizes; >1 would flag a scale problem).",
        "Generated by tools/scaling_curve.py — rerun after operator changes.",
        "",
        "| op | sf0.001 | sf0.01 | sf0.1 | exp |",
        "|---|---|---|---|---|",
    ]
    worst = ("", -math.inf)
    for name in HEADLINE:
        t = times[name]
        exp = math.log(t["0.1"] / t["0.01"]) / math.log(10)
        if exp > worst[1]:
            worst = (name, exp)
        lines.append(
            f"| {name} | {t['0.001']:.2f} | {t['0.01']:.2f} | {t['0.1']:.2f} | {exp:+.2f} |"
        )
    lines += [
        "",
        f"Steepest exponent: `{worst[0]}` at {worst[1]:+.2f}.",
        "",
    ]
    # this tool owns only the top curve section; the other tools' sections
    # and the hand-kept ones below it survive byte for byte
    splice_section(
        Path(__file__).resolve().parent.parent / "SCALING.md",
        _MARK,
        "\n".join(lines) + "\n",
    )
    print(f"SCALING.md written ({len(HEADLINE)} ops × {len(SFS)} sfs); "
          f"steepest {worst[0]} {worst[1]:+.2f}")


if __name__ == "__main__":
    main()
