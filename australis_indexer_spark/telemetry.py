"""One way to time an op: ``measure(spark, fn, sf_dir)``.

It runs one cache-cold build and execution of an op and returns a plain
record::

    {"build_s": float, "exec_s": float,
     "stages": [(name, shuffle_write_bytes, shuffle_read_bytes), ...]}

- ``build_s`` is the ``fn(spark, sf_dir)`` call: py4j, parsing and any work
  the op runs while it builds.
- ``exec_s`` is a ``noop`` write of the returned frame. The full plan runs
  on the executors and nothing funnels through the driver.
- ``stages`` has one entry per stage that started in that window, oldest
  first. Skipped stages never ran and are left out.

The stages come from the application status store
(``sc.statusStore()``). Spark keeps that store whether or not the UI is on,
so ``measure`` needs neither the UI nor its REST API: the stage records are
the numbers the UI would show. The listener bus that feeds the store is
asynchronous. Draining it (``waitUntilEmpty``) before the window opens and
after the write ends credits each stage to the one call that started it.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _stage_list(store):
    """Every stage attempt in the app status store, newest first."""
    default = lambda name: getattr(store, name)()  # noqa: E731  Scala defaults
    return store.stageList(
        None,
        default("stageList$default$2"),
        default("stageList$default$3"),
        default("stageList$default$4"),
        default("stageList$default$5"),
    )


def measure(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict:
    """One cache-cold run of ``fn(spark, sf_dir)`` (module docstring)."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    spark.catalog.clearCache()
    sc.listenerBus().waitUntilEmpty()
    before = _stage_list(store)
    last = before.apply(0).stageId() if before.size() else -1

    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()

    sc.listenerBus().waitUntilEmpty()
    listed = _stage_list(store)
    stages = []
    for i in range(listed.size()):
        s = listed.apply(i)
        if s.stageId() <= last:
            break
        if s.status().toString() != "SKIPPED":
            stages.append((s.name(), s.shuffleWriteBytes(), s.shuffleReadBytes()))
    stages.reverse()
    return {"build_s": t1 - t0, "exec_s": t2 - t1, "stages": stages}
