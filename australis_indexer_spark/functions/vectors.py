"""Vector scalar functions — JVM-side, no Python in the row path.

Dot products are **sequential left folds** (`aggregate` over `zip_with`),
which makes them bit-identical to DuckDB's `list_dot_product` on DOUBLE[]
(verified empirically at build time) — the determinism anchor for every
similarity/dedup oracle. sqrt and the final division are single IEEE ops.

Construction cost matters as much as run cost here: the Column-by-Column
form of a fold (two HOF builders + lambda plumbing) is ~15 py4j round-trips
per call site, and the similarity operators instantiate dozens of folds per
plan. Every function here therefore takes column NAMES and emits ONE
`F.expr` whose SQL parses JVM-side in a single call and resolves to the
IDENTICAL expression tree (same sequential fold, same `0.0D` zero, same
operator shape) — results are bit-for-bit those of the builder form.

At scale these run inside whole-stage codegen; for very high dimensions a
vectorized pandas UDF (numpy einsum per Arrow batch) is the drop-in upgrade
path — kept out of the default because the fold is exact and fast at d=64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def with_norm(
    df: DataFrame,
    emb_col: str = "emb",
    out: str = "nrm",
    *,
    spread: bool = True,
    keep_zero: bool = False,
) -> DataFrame:
    """Attach the L2 norm; by default also `spread` the frame across all
    cores first. Small embedding tables arrive as one parquet split, and
    every downstream per-pair cosine would otherwise execute in that single
    scan task — one narrow-side shuffle of the corpus buys full parallelism
    (a no-op concern at 100 TB where the scan has thousands of splits).

    Zero-norm vectors are EXCLUDED by default (``keep_zero=False``): a zero
    vector has no direction, so cosine against it is 0/0 — which under ANSI
    mode is a job-killing DIVIDE_BY_ZERO, not a NaN (the fuzz ``vecdup``
    profile crashed all 8 cosine ops this way). At 100 TB some embedding
    batch WILL be all-zeros (model OOM, padding bug, truncated upload);
    dropping them from similarity search is the defensible semantic, and
    every cosine oracle applies the identical ``WHERE nrm > 0`` filter.
    Callers that need the excluded rows surfaced (data-quality reports)
    pass ``keep_zero=True`` and handle the division themselves."""
    if spread:
        sc = df.sparkSession.sparkContext
        df = df.repartition(sc.defaultParallelism)
    df = df.withColumn(out, F.expr(f"SQRT({_dot_sql(emb_col, emb_col)})"))
    if not keep_zero:
        df = df.filter(F.col(out) > 0.0)
    return df


def cosine_cols(emb_a: str, emb_b: str, nrm_a: str, nrm_b: str) -> Column:
    """cosine = dot / (nrm_a * nrm_b) — same expression tree as the oracles."""
    return F.expr(f"({_dot_sql(emb_a, emb_b)} / ({nrm_a} * {nrm_b}))")
