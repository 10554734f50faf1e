"""Exact-arithmetic helpers (functions/det.py) on the inputs where the
floating-point shortcuts are most fragile."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from australis_indexer_spark.functions.det import fround


def test_fround_matches_spark_round_at_half_points(spark):
    """Round-half-away-from-zero agrees with Spark's ROUND on both sides of
    every sampled k + 0.5, including the largest double below 0.5, whose
    ``y + 0.5`` rounds up to 1.0."""
    rng = random.Random(5)
    ks = [0, 1, 2, 3, 7, 99, 2**26, 2**51 - 1, 2**52, 2**60]
    ks += [rng.randrange(2**e) for e in range(1, 52) for _ in range(4)]
    ys = [0.49999999999999994]
    for k in ks:
        half = k + 0.5
        ys += [math.nextafter(half, -math.inf), half, math.nextafter(half, math.inf)]
    ys += [-y for y in ys]
    rows = (
        spark.createDataFrame([(y,) for y in ys], "y double")
        .select("y", fround(F.col("y")).alias("got"),
                F.round("y").cast("long").alias("want"))
        .collect()
    )
    assert len(rows) == len(ys)
    assert [(r.y, r.got, r.want) for r in rows if r.got != r.want] == []
