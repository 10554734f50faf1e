#!/usr/bin/env python3
"""Decompose pipeline_corpus_build's decade-stress exponent bend
(VERDICT r7 'Next round' #3: +0.77 at sf0.1→sf1 steepening to +0.88 at
sf1→sf10 — attribute the bend to legitimate output growth vs a stage
superlinear in INPUT before the curve is trusted at 1000x).

Method: rebuild the op's logical stages (mirrors
operators/curation.py:pipeline_corpus_build line-for-line; each count
below names the frame it measures) and record per-stage ROW counts at
sf0.1 and the derived 10x/100x decade-stress replicas of `documents`
(same construction as tools/scale_stress.py: verbatim text, doc_id
shifted by replica*2^32 — so every replica group is an R-way exact
duplicate, and the doc_id%10 eval split ROTATES across replicas because
2^32 % 10 == 6). Alongside, time the REAL registered op with
``telemetry.measure`` and sum the shuffle read/write bytes of its stages
from the app status store. Per-decade log-log exponents of each stage
count and of total shuffle bytes then attribute the wall-clock bend.

Writes the '### pipeline_corpus_build decomposition' subsection of
SCALING.md (replacing any previous run) and prints one JSON line.

Usage: python tools/corpus_decompose.py
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from australis_indexer_spark.operators.curation import (
    NGRAM,
    _canonical_text,
    _ngrams,
)
from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session
from australis_indexer_spark.telemetry import measure
from tools.docsplice import fmt_bytes, splice_section
from tools.scale_stress import FACTORS, OUT_BASE, RUNS, SRC, build

_MARK = "### pipeline_corpus_build decomposition"


def _stage_counts(spark, sf_dir: str) -> dict[str, int]:
    """Row counts of every logical stage of pipeline_corpus_build
    (operators/curation.py:335), computed WITHOUT materializing the
    explodes where an aggregate suffices (pos rows = sum(n-1) over train
    docs with n>=2; chunk rows = sum(ceil(n/stride)) over survivors)."""
    from australis_indexer_spark.operators.curation import (
        CHUNK_STRIDE,
    )
    from australis_indexer_spark.sources.batch import load_table as lt
    from pyspark.sql import Window as W

    norm = _canonical_text()
    docs = (
        lt(spark, sf_dir, "documents")
        .select("doc_id", norm.alias("t"))
        .withColumn("toks", F.split("t", " "))
        .withColumn("n", F.size("toks"))
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    is_eval = F.col("doc_id") % 10 == 0
    train = docs.filter(~is_eval).cache()

    eval_g8 = _ngrams(docs.filter(is_eval), NGRAM).select("gram").distinct()

    c: dict[str, int] = {}
    c["docs"] = docs.count()
    c["train_docs"] = train.count()
    c["eval_docs"] = c["docs"] - c["train_docs"]
    c["eval_g8_distinct"] = eval_g8.count()  # the broadcast side
    agg = train.filter(F.col("n") >= 2).agg(
        F.sum(F.col("n") - 1).alias("pos"),
        F.sum(
            F.greatest(F.col("n") - (NGRAM - 1), F.lit(0))
        ).alias("g8_pos"),
    ).collect()[0]
    c["pos_explode_rows"] = int(agg["pos"] or 0)  # 2-gram probe explode
    c["g8_defined_rows"] = int(agg["g8_pos"] or 0)

    # the real gate sub-plan: contamination + repetition keep flags
    g8 = F.when(
        F.col("p") <= F.col("n") - (NGRAM - 1),
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("p") + i) for i in range(NGRAM)]
        ),
    )
    pos = (
        train.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            "toks",
            "n",
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("p"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("toks", F.col("p")),
                F.element_at("toks", F.col("p") + 1),
            ).alias("g2"),
            g8.alias("g8"),
        )
    )
    probed = pos.join(
        F.broadcast(eval_g8), pos["g8"] == eval_g8["gram"], "left"
    ).select("doc_id", "g2", F.col("gram").isNotNull().alias("hit"))
    per2 = probed.groupBy("doc_id", "g2").agg(
        F.count("*").alias("c"), F.max("hit").alias("h2")
    )
    stats = per2.groupBy("doc_id").agg(
        (
            ((F.sum("c") - F.count("*")) / F.sum("c") < 0.2)
            & (F.max("c") / F.sum("c") < 0.1)
        ).alias("keep"),
        F.max("h2").alias("contaminated"),
    ).cache()
    c["contaminated_docs"] = stats.filter("contaminated").count()
    c["repetition_gated_docs"] = stats.filter("NOT keep").count()

    kept = (
        train.join(stats, "doc_id", "left")
        .filter(
            F.coalesce("keep", F.lit(True))
            & ~F.coalesce("contaminated", F.lit(False))
        )
        .drop("keep", "contaminated")
    )
    c["kept_docs"] = kept.count()
    w_dup = F.row_number().over(W.partitionBy("t").orderBy("doc_id"))
    final = kept.withColumn("rn", w_dup).filter(F.col("rn") == 1).drop("rn")
    fagg = final.agg(
        F.count("*").alias("final"),
        F.sum(
            F.ceil(F.col("n") / F.lit(CHUNK_STRIDE)).cast("long")
        ).alias("chunks"),
    ).collect()[0]
    c["final_docs"] = int(fagg["final"] or 0)
    c["chunk_rows"] = int(fagg["chunks"] or 0)
    train.unpersist()
    stats.unpersist()
    return c


def _exp(a: float, b: float) -> float:
    return math.log(b / max(a, 1e-9)) / math.log(10)


def main() -> None:
    spark = get_session("corpus_decompose")
    ops = load_all()
    fn = ops["pipeline_corpus_build"].fn

    datasets = [("sf0.1 (1x)", SRC)]
    for f in FACTORS:
        # documents-only replicas: the op reads nothing else
        out = f"{OUT_BASE}_corpusdoc_{f}"
        build(spark, f, out, facts={"documents": ("doc_id",)}, dims=())
        datasets.append((f"{f}x", out))

    rows = []
    for label, path in datasets:
        counts = _stage_counts(spark, path)
        # the real op: the min-wall run of RUNS, with that run's shuffle
        # bytes
        rec = min(
            (measure(spark, fn, path) for _ in range(RUNS)),
            key=lambda r: r["build_s"] + r["exec_s"],
        )
        wall = rec["build_s"] + rec["exec_s"]
        wr = sum(w for _, w, _ in rec["stages"])
        rd = sum(r for _, _, r in rec["stages"])
        rows.append((label, counts, wall, rd, wr))
        print(f"{label}: wall={wall:.2f}s shuffle_wr={fmt_bytes(wr)} {counts}", flush=True)

    write_section(REPO / "SCALING.md", rows)
    keys = list(rows[0][1])
    print(
        json.dumps(
            {
                "metric": "corpus_build_decomposition",
                "wall": [r[2] for r in rows],
                "shuffle_write_bytes": [r[4] for r in rows],
                "counts": {k: [r[1][k] for r in rows] for k in keys},
            }
        )
    )


def write_section(scaling: Path, rows: list) -> None:
    """Splice the decomposition table for ``rows`` — one ``(label,
    stage counts, wall s, shuffle read bytes, shuffle write bytes)`` per
    dataset, 1x/10x/100x — into ``scaling``. The hand-written attribution
    below it is its own section and is left as it is."""
    keys = list(rows[0][1])
    lines = [
        _MARK + " (round 8, VERDICT r7 #3)",
        "",
        "Per-stage row counts (mirroring operators/curation.py:335) and the",
        "real op's measured shuffle bytes at sf0.1 and the 10x/100x decade",
        "replicas of `documents` (verbatim text, doc_id stride 2^32 — every",
        "replica group is an R-way exact duplicate and the doc_id%10 eval",
        "split rotates across replicas since 2^32 % 10 == 6). Generated by",
        "tools/corpus_decompose.py.",
        "",
        "| stage | 1x | 10x | 100x | exp 1x→10x | exp 10x→100x |",
        "|---|---|---|---|---|---|",
    ]
    for k in keys:
        v = [r[1][k] for r in rows]
        lines.append(
            f"| {k} | {v[0]} | {v[1]} | {v[2]} "
            f"| {_exp(v[0], v[1]):+.2f} | {_exp(v[1], v[2]):+.2f} |"
        )
    walls = [r[2] for r in rows]
    wrs = [r[4] for r in rows]
    rds = [r[3] for r in rows]
    lines += [
        f"| wall (s, real op, min of {RUNS}) | {walls[0]:.2f} | {walls[1]:.2f} | {walls[2]:.2f} "
        f"| {_exp(walls[0], walls[1]):+.2f} | {_exp(walls[1], walls[2]):+.2f} |",
        f"| shuffle write | {fmt_bytes(wrs[0])} | {fmt_bytes(wrs[1])} | {fmt_bytes(wrs[2])} "
        f"| {_exp(wrs[0], wrs[1]):+.2f} | {_exp(wrs[1], wrs[2]):+.2f} |",
        f"| shuffle read | {fmt_bytes(rds[0])} | {fmt_bytes(rds[1])} | {fmt_bytes(rds[2])} "
        f"| {_exp(rds[0], rds[1]):+.2f} | {_exp(rds[1], rds[2]):+.2f} |",
        "",
    ]
    # Shared marker-bounded splice (tools/docsplice.py): same boundary
    # rule as state_scale, with the outside-bytes-preserved guard.
    splice_section(scaling, _MARK, "\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
