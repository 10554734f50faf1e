#!/usr/bin/env python3
"""Multi-decade scale stress: run the headline suite at 10x and 100x sf0.1
(≈ sf1 and sf10 — one and two decades beyond the largest driver-shipped
dataset).

The verdicts' standing caveat is that the 100 TB design claims rest on plan
shape plus telemetry at sf <= 0.1. This tool extends the measured scaling
curves: it DERIVES each stress dataset from the provided sf0.1 tables
(never synthesizing new value distributions — each replica is the driver's
own data with every int64 key shifted by ``replica * 2**32``, one uniform
stride, so every cross-table relationship (o_orderkey↔l_orderkey,
o_custkey↔c_custkey, user_id joins) is preserved inside each replica and
disjoint across replicas; dimension tables region/nation/part/supplier stay
single-copy, exactly how dims behave at scale). Text/embeddings replicate
verbatim, which deliberately stresses the dedup/ANN paths with R-way
duplicate groups — the workload shape a corpus deduper actually faces, and
a stress that grows QUADRATICALLY in R for every pair-emitting dedup op
(an R-way verbatim group emits R·(R-1)/2 pairs).

Writes datasets under $SPARK_GRAFT_STRESS_DIR (default
/tmp/aispark_sfstress) + "_<factor>" for FACTORS (10x and 100x), times the
bench HEADLINE ops with ``telemetry.measure`` (min of RUNS cache-cold
passes) at each factor, prints one JSON line per factor, and splices the
"## Decade stress" section of SCALING.md with per-decade log-log exponents.
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from bench import HEADLINE
from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session
from australis_indexer_spark.telemetry import measure
from tools.docsplice import splice_section

SRC = "/root/testdata/sf0.1"
OUT_BASE = os.environ.get("SPARK_GRAFT_STRESS_DIR", "/tmp/aispark_sfstress")
FACTORS = (10, 100)
RUNS = 2
STRIDE = 2**32  # one uniform key offset: every cross-table FK survives

# fact tables: every *key* column shifts by replica*STRIDE; dims copy once
_FACT_KEYS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
_DIMS = ("region", "nation", "part", "supplier")
_MARK = "## Decade stress"


def _reusable(dst: str, src_path: str) -> bool:
    """A cached table dir is only reusable if Spark COMMITTED it (_SUCCESS
    marker — a run killed mid-write leaves the dir without one) and it is
    newer than the source it was derived from (a regenerated SRC must
    invalidate it). Round-6 tools review: a bare os.path.exists() silently
    measured partial/stale datasets."""
    marker = os.path.join(dst, "_SUCCESS")
    if not os.path.exists(marker):
        return False
    try:
        return os.path.getmtime(marker) >= os.path.getmtime(src_path)
    except OSError:
        return False


def build(spark, replicas: int, out: str, facts=_FACT_KEYS, dims=_DIMS) -> None:
    """Write the ``replicas``-fold derived copy of the ``facts`` tables and
    a single copy of the ``dims`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    for t in dims:
        src_path = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not _reusable(dst, src_path):
            spark.read.parquet(src_path).write.mode("overwrite").parquet(dst)
    for t, keys in facts.items():
        dst = os.path.join(out, f"{t}.parquet")
        if _reusable(dst, os.path.join(SRC, f"{t}.parquet")):
            continue
        base = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        out_df = None
        for i in range(replicas):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, (F.col(k) + F.lit(i * STRIDE)).cast("long"))
            out_df = rep if out_df is None else out_df.unionByName(rep)
        out_df.write.mode("overwrite").parquet(dst)
        print(f"built {t}: {replicas}x", flush=True)


def sf01_points(text: str) -> dict[str, float]:
    """The sf0.1 column of the curve table, the SCALING.md section before
    the first ``## `` heading (tools/scaling_curve.py writes it)."""
    sf01: dict[str, float] = {}
    for line in text.split("\n## ")[0].splitlines():
        parts = [p.strip() for p in line.split("|")]
        if len(parts) >= 6 and parts[1] in HEADLINE:
            try:
                sf01[parts[1]] = float(parts[4])
            except ValueError:
                pass
    return sf01


def write_section(
    md: Path, sf01: dict[str, float], results: dict[int, dict[str, float]]
) -> tuple[str, float]:
    """Splice the decade-stress section for ``results`` (factor -> op ->
    seconds) into ``md``; returns the steepest (op, sf0.1 → top exponent)."""
    facs = sorted(results)
    hdr_sfs = " | ".join(f"sf{0.1 * f:g} ({f}x)" for f in facs)
    hdr_exp = " | ".join(
        f"exp {'0.1' if i == 0 else f'{0.1 * facs[i - 1]:g}'}→{0.1 * f:g}"
        for i, f in enumerate(facs)
    )
    lines = [
        _MARK + f" ({', '.join(str(f) + 'x' for f in facs)} sf0.1, derived)",
        "",
        "Beyond the shipped data: the sf0.1 tables replicated with a uniform",
        "2^32 key stride (FKs preserved per replica; dims single-copy;",
        "text/embeddings verbatim — an R-way-duplicate stress whose dedup",
        "pair output grows ~R² by construction). Cache-cold min of",
        f"{RUNS}. `exp` is the per-step log-log slope; ~1.0 = linear in",
        "data, the design target for shuffle-bound plans (pair-emitting",
        "dedup ops may legitimately exceed 1.0 here — their OUTPUT grows",
        "quadratically in the replica count).",
        "",
        f"| op | sf0.1 | {hdr_sfs} | {hdr_exp} |",
        "|---|---|" + "---|" * (2 * len(facs)),
    ]
    based = [n for n in HEADLINE if sf01.get(n, 0) > 0]
    for n in based:
        cells = [f"{sf01[n]:.2f}"]
        exps = []
        prev_t, prev_f = sf01[n], 1
        for f in facs:
            t = results[f][n]
            cells.append(f"{t:.2f}")
            exps.append(f"{math.log(t / prev_t) / math.log(f / prev_f):+.2f}")
            prev_t, prev_f = t, f
        lines.append(f"| {n} | " + " | ".join(cells + exps) + " |")
    top_f = facs[-1]
    worst = max(
        ((n, math.log(results[top_f][n] / sf01[n]) / math.log(top_f)) for n in based),
        key=lambda x: x[1],
        # a table of all-0.00 base points leaves no op to rank
        default=("(none)", 0.0),
    )
    lines += [
        "",
        f"Steepest overall exponent (sf0.1 → sf{0.1 * top_f:g}): "
        f"`{worst[0]}` at {worst[1]:+.2f}.",
        "",
    ]
    splice_section(md, _MARK, "\n".join(lines) + "\n")
    return worst


def main() -> None:
    # Parse the sf0.1 base points BEFORE any dataset build or measurement:
    # if the curve table is missing or its ops no longer match HEADLINE,
    # fail in milliseconds instead of after hours of 10x/100x builds.
    md = REPO / "SCALING.md"
    sf01 = sf01_points(md.read_text() if md.exists() else "")
    if not sf01:
        raise SystemExit(
            "scale_stress: no HEADLINE rows with an sf0.1 column found in "
            "SCALING.md — regenerate the curve table first "
            "(python tools/scaling_curve.py)"
        )

    spark = get_session("scale_stress")
    ops = load_all()
    measure(spark, ops[HEADLINE[0]].fn, SRC)  # warm-up (JVM/codegen)

    results: dict[int, dict[str, float]] = {}
    for fac in FACTORS:
        out = f"{OUT_BASE}_{fac}"
        build(spark, fac, out)
        best: dict[str, float] = {}
        for _ in range(RUNS):
            for name in HEADLINE:
                rec = measure(spark, ops[name].fn, out)
                dt = rec["build_s"] + rec["exec_s"]
                best[name] = min(dt, best.get(name, dt))
                print(f"  {name}: {dt:.2f}s", flush=True)
        results[fac] = {n: round(best[n], 3) for n in HEADLINE}
        print(json.dumps({
            "metric": "decade_stress_total",
            "value": round(sum(results[fac].values()), 3),
            "unit": "sec",
            "queries": results[fac],
            "sf": 0.1 * fac,
            "methodology": f"{fac}x sf0.1 derived (key-stride replicas), "
            f"min of {RUNS} cache-cold passes",
        }), flush=True)

    worst = write_section(md, sf01, results)
    print(
        f"SCALING.md decade-stress section updated "
        f"(steepest {worst[0]} {worst[1]:+.2f})"
    )


if __name__ == "__main__":
    main()
