"""Operator registry — the single source of truth for the driver contract.

Every engine op (SURVEY.md §2 inventory + §2.6 relational layer + north-star
extensions) registers here with its Spark implementation and, when
SQL-expressible, the exact DuckDB oracle SQL. ``__spark_entry__.py`` exposes
the registry as ``queries()`` / ``oracle_sql()``.

Determinism contract (why oracles hash-match):
- money sums go through exact integer cents (``det.dsum``) — identical IEEE
  expression trees on both engines, integer accumulation, one final division;
- every computed column is explicitly aliased the same on both sides;
- ranking ties are always broken by a unique key column;
- timestamps are µs precision on both sides (see sources.batch.load_table);
- float32 columns (embeddings) are explicitly CAST to DOUBLE before any
  arithmetic in ORACLE SQL too — DuckDB resolves FLOAT * DECIMAL-literal
  in float32, whose extra rounding step can land exactly on a .5 the
  float64 product avoids (caught by the r4 cross-scale-factor sweep; the
  current sweep is DIFFCHECK_r11_sf0001.txt).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import zipfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .scratch import scratch_root

QueryFn = Callable[[SparkSession, str], DataFrame]

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
# the driver writes its per-round CORRECTNESS_r*.json ledger at the repo root
_LEDGER_DIR = os.path.dirname(_PKG_DIR)


def ensure_executor_pyfiles(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Ops whose pandas UDFs reference module-level functions (codecs, envelope)
    are cloudpickled *by reference* — the worker must `import
    australis_indexer_spark` itself. When the harness creates its own
    SparkSession from an arbitrary CWD, the workers' PYTHONPATH does not
    include this repo, so we ship the package the Spark-native way:
    `sc.addPyFile` with a zip (works identically on a real cluster).
    The zip lives under the process-lifetime scratch root, removed at
    exit, not right after `addPyFile`: the local executor may fetch added
    files from their original path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_aispark_pyfiles_added", False):
        return
    zpath = os.path.join(scratch_root(), f"australis_indexer_spark-{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(_PKG_DIR))
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._aispark_pyfiles_added = True


@dataclass(frozen=True)
class OpSpec:
    name: str
    fn: QueryFn
    # str, a zero-arg builder resolved lazily on first .oracle access, or
    # None (rows-only check). The fixture oracles walk the 48-block
    # gen_blocks fixture to build multi-hundred-KB VALUES SQL — eager
    # construction at decoration time taxed EVERY operators import ~0.66 s
    # + ~270 KB (VERDICT r6 What's-wrong #1), so they register the builder.
    oracle_src: str | Callable[[], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""

    @property
    def oracle(self) -> str | None:
        """DuckDB SQL; None => rows-only check. Lazy builders resolve on
        first access and cache the rendered SQL in place."""
        o = self.oracle_src
        if callable(o):
            o = o()
            object.__setattr__(self, "oracle_src", o)
        return o


REGISTRY: dict[str, OpSpec] = {}


def op(
    name: str,
    *,
    oracle: str | Callable[[], str] | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Register an engine op. Used as a decorator over (spark, sf_dir) -> DataFrame.

    Building an op's plan may run Spark work: an op that reads an
    intermediate more than once materializes it while it builds, by one of
    two rules. An intermediate read only while the plan is built (a truth
    set that a tuning loop reads) is ``cache()``d and ``unpersist()``ed in
    ``finally``. An intermediate that the returned frame reads is an eager
    ``localCheckpoint``: its lineage is cut, so if an executor holding its
    blocks is lost before the caller's action finishes, that job fails
    instead of recomputing (DEPLOY.md §6). Ops register no views or other
    named state in the session catalog: a SQL-text intermediate is handed
    to ``spark.sql`` as a DataFrame argument, whose generated view name
    PySpark drops once the text is analyzed."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate op name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_executor_pyfiles(spark)
            return fn(spark, sf_dir)
        REGISTRY[name] = OpSpec(
            name=name, fn=wrapped, oracle_src=oracle, tags=tags,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


def _is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
    )


def collect_rows(max_round: int | None = None) -> dict[str, list[tuple[int, bool, str]]]:
    """op -> [(round, green, note)] sorted by round, read from the driver's
    ``CORRECTNESS_r*.json`` ledger next to the package directory.

    ``max_round`` caps which rounds are read, so a plan made from rounds
    1..k-1 can be replayed after round k's artifact has landed."""
    hist: dict[str, list[tuple[int, bool, str]]] = {}
    for path in glob.glob(os.path.join(_LEDGER_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            data = json.load(f)
        for opname, row in data.items():
            note = ""
            if row.get("err"):
                note = "err"
            elif row.get("hash_match") is None:
                note = "rows_only"
            hist.setdefault(opname, []).append((rnd, _is_green(row), note))
    for v in hist.values():
        v.sort()
    return hist


def walk_tier(rows: list[tuple[int, bool, str]] | None) -> int:
    """An op's walk tier from its ``collect_rows`` history: the round of
    its latest driver row if that row is green, else 0 (never driver-seen
    or red-latest)."""
    return rows[-1][0] if rows and rows[-1][1] else 0


def walk_order(names, max_round: int | None = None) -> list[str]:
    """The driver's walk order over ``names``: stalest driver evidence
    first. The key is ``walk_tier`` then the name, so never-seen and
    red-latest ops lead and the driver's next ~50-op window certifies the
    ops that most need it. With no ledger files (a ``--py-files`` zip, a
    bare install) every op is tier 0 and the order is plain name order."""
    hist = collect_rows(max_round)
    return sorted(names, key=lambda n: (walk_tier(hist.get(n)), n))


def load_all() -> dict[str, OpSpec]:
    """Import every module that registers ops, then return the registry
    in ``walk_order``, so the driver's next 50-op correctness window covers
    exactly the ops that most need (re-)certification. The order depends
    only on the ledger, never on which module this process imported first.
    """
    from .operators import wire  # noqa: F401  (imports .envelope first)
    from .streaming import cdc, pipeline, rollup, stateful  # noqa: F401
    from .operators import (  # noqa: F401
        curation,
        fuzzy,
        iterative,
        maintenance,
        pq,
        profiling,
        scale,
        storage,
        timeseries,
        tpch,
        sampling,
        similarity,
        text_analysis,
    )
    from .operators import (  # noqa: F401
        dedup,
        explode,
        multimodal,
        project,
        relational,
    )

    ordered = {n: REGISTRY[n] for n in walk_order(REGISTRY)}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
