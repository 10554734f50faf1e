#!/usr/bin/env python
"""Headline benchmark — the driver's per-round perf gate.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a ``noop`` datasource write — the full plan runs on
executors (scan → shuffle → agg/join), nothing funnels through the driver, so
the timing reflects distributed throughput rather than ``collect()`` overhead.

The headline set spans every subsystem: TPC-H-style agg, broadcast-dim join,
as-of join, ranking/frame windows, streaming-style time windows, exact +
MinHash-LSH dedup, similarity top-k, and text analysis — the ops that
dominate a 100 TB run.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session
from australis_indexer_spark.telemetry import measure

HEADLINE = (
    "agg_hash_pricing_summary",      # scan+filter+groupBy+sort (TPC-H Q1 shape)
    "join_equi_revenue_by_nation",   # fact-fact join + broadcast dims
    "join_asof_purchase_attribution",  # as-of join (the reference's tx→outcome semantic)
    "window_rank_top_customers",     # partitioned ranking window
    "window_frame_running_spend",    # running frame aggregate
    "window_time_hourly_events",     # tumbling event-time window
    "sort_topk_orders",              # global top-k
    "dedup_exact",                   # content-hash dedup
    "dedup_minhash_lsh",             # shingle→minhash→band join near-dup
    "sim_topk_bruteforce",           # embedding cosine top-k
    "sim_ann_lsh",                   # multi-table LSH bucket-join ANN (the scale path)
    "embedding_quantize_int8",       # int8 corpus quantization (map-only rewrite)
    "text_stats_quality",            # text quality scoring
    "explode_tokens",                # array explode over real table data
    "join_skew_salted",              # skew-resistant salted fact join
    "pipeline_corpus_build",         # full curation chain: normalize→gates→dedup→decontaminate→chunk
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("bench")
    ops = load_all()

    # one warm-up pass on the smallest table so JVM/codegen/Arrow init cost
    # does not land on the first measured query
    measure(spark, ops["agg_hash_pricing_summary"].fn, sf_dir)

    # best-of-N per query: the suite runs on a shared VM, and a concurrent
    # load spike multiplies every wall-clock uniformly (the r02 26.8s-vs-16.2s
    # scare was exactly this). The MIN over interleaved repeats is the
    # load-robust estimator of the plan's actual cost — and every repeat is
    # CACHE-COLD: `measure()` runs `clearCache()` before each op, so ops that
    # `.cache()` intermediates re-compute them from the scan every time
    # (r3's best-of-3 silently re-served CacheManager entries on repeats 2-3
    # and reported warm re-execution; VERDICT r3 "What's wrong" #1).
    # clamp: 0/negative would skip every measured pass and crash on the
    # empty `best` dict AFTER the warm-up already paid full session cost
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    best: dict[str, float] = {}
    cold: dict[str, float] = {}
    for _ in range(n_runs):
        for name in HEADLINE:
            rec = measure(spark, ops[name].fn, sf_dir)
            dt = rec["build_s"] + rec["exec_s"]
            if name not in cold:
                cold[name] = dt
            if name not in best or dt < best[name]:
                best[name] = dt
    timings = {name: round(best[name], 3) for name in HEADLINE}

    total = round(sum(timings.values()), 3)
    # defensive parse: a dataset dir not named sf<number> must not throw
    # away the whole run's timings AFTER measurement. 'sf' stays NUMERIC
    # or null (never a surprise string — consumers like the artifact-diff
    # and ratio tooling expect a number, ADVICE r6); the raw basename
    # travels in a separate 'dataset' field in the fallback case.
    base = os.path.basename(os.path.normpath(sf_dir))
    m = re.fullmatch(r"sf([0-9.]+)", base)
    sf = float(m.group(1)) if m else None
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **({} if m else {"dataset": base}),
                "methodology": (
                    f"min over {n_runs} cache-cold suite passes "
                    "(spark.catalog.clearCache() before each pass); "
                    "cold_* is the first pass"
                ),
                "cold_total": round(sum(cold.values()), 3),
                "cold_queries": {n: round(cold[n], 3) for n in HEADLINE},
            }
        )
    )


if __name__ == "__main__":
    main()
