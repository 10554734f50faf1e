"""SparkSession factory.

Replaces the reference's runtime bootstrap (tokio runtime + actix system +
NATS connection FSM, ``borealis-indexer/src/main.rs:1115-1152,1165-1318``)
with a single declarative session builder: Spark owns threads, retries,
backpressure and supervision (SURVEY.md §2.5 T5-T9).

Two profiles:

- ``get_session()``           — local test/bench profile (local[N], AQE on,
                                shuffle partitions sized to cores).
- ``CLUSTER_CONF``            — the documented knob set for the 100 TB
                                design point (1000-executor cluster); kept as
                                data so tests can assert we ship it.

Local Python workers fork from ``pydaemon``, not ``pyspark.daemon``. PySpark
calls ``importlib.invalidate_caches()`` at the start of every task, and on
CPython < 3.12 that makes each of a worker's cached zip importers re-read its
archive's whole directory (pyspark.zip, py4j, the spark-core jar: about 26k
entries). That cost about 0.3 s per pandas-UDF task on a reused worker,
whatever the task's size: 16 tasks of a 160-row identity pandas UDF on a
4-core host took 1.8 s, and 0.7 s from ``pydaemon``. ``pydaemon`` re-reads
an archive only when it changed on disk. CPython 3.12 made the re-read lazy,
so there it only hands over to ``pyspark.daemon``. The daemon starts before
any ``addPyFile`` zip is visible, so the session puts the package root on
the workers' PYTHONPATH, which also lets Python data sources plan from any
working directory. Vanilla sessions (the driver harness) and cluster
deployments still ship the package by ``addPyFile`` / ``--py-files``
(``registry.ensure_executor_pyfiles``) and still pay the per-task cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package, for the Python workers' sys.path
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Tuned for the driver's harness: single JVM, local[32], 128 GiB box.
_LOCAL_DEFAULTS: dict[str, str] = {
    # AQE re-plans at runtime: coalesces small shuffle partitions, converts
    # sort-merge joins to broadcast when a side turns out small, splits skewed
    # partitions — all critical at 100 TB and free to keep on locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # filled in per-session from the actual core count in get_session()
    # (local mode has no network shuffle; the 200 default just adds task-
    # launch overhead, and a constant 32 over-partitions a local[8] run —
    # the driver benches at several core counts to measure scaling)
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / toPandas / createDataFrame(pandas)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local Python workers fork from pydaemon (see the module docstring)
    "spark.python.daemon.module": "australis_indexer_spark.pydaemon",
    "spark.executorEnv.PYTHONPATH": _PKG_ROOT,
    # read only referenced nested fields out of deeply-nested structs
    # (the StreamerMessage schema is ~6 levels deep — SURVEY.md §1.2)
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # columnar parquet at rest, zstd like the reference's wire codec
    # (borealis-indexer/src/main.rs:370 — zstd payload compression)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # the driver's events.parquet carries INT64 TIMESTAMP(NANOS) which Spark
    # has no native type for; read as LongType ns and convert in the loader
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # scan-split knobs, env-parameterised for profiling against multi-row-
    # group data copies (tools/make_mrg_testdata.py). Defaults ARE Spark's
    # defaults — the driver's bench runs are byte-identical in config; a
    # profiling run sets these low so multi-row-group files split across
    # cores and the 8-vs-32-core probe measures operators, not the
    # single-row-group scan serialization (VERDICT r10 "scaling signal").
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"
    ),
    "spark.sql.files.openCostInBytes": os.environ.get(
        "SPARK_GRAFT_OPEN_COST_BYTES", "4194304"
    ),
}

# The 100 TB / 1000-executor knob set. Not applied in local mode (most are
# no-ops in a single JVM) but exported + asserted-on so the design intent is
# executable documentation.
CLUSTER_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # ~128 MB scan splits -> one task per HDFS/S3 block-ish chunk
    "spark.sql.files.maxPartitionBytes": "134217728",
    # 100 TB / ~128 MB target post-shuffle partition => O(100k); AQE coalesces
    "spark.sql.shuffle.partitions": "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # dims (region/nation/supplier/part-slices) always broadcast
    "spark.sql.autoBroadcastJoinThreshold": "256m",
    # streaming dedup state at 24h x chain cadence does not fit on-heap
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.io.compression.codec": "zstd",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # pace source reads so one trigger never exceeds executor memory
    # (replaces the reference's 256MB/1GB reconnect buffers,
    #  borealis-indexer/src/main.rs:819, borealis-consumer/src/main.rs:431)
    "spark.sql.streaming.maxBatchesToRetainInMemory": "2",
}


def get_session(
    app_name: str = "australis_indexer_spark",
    *,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the local session used by tests, bench and the driver.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS then all cores. ``extra_conf``
    entries override the defaults — only honored at session CREATION (a
    getOrCreate against a live session cannot change static confs); used by
    tooling that needs process-scoped isolation, e.g. the invariance sweep's
    lane-scoped ``spark.sql.warehouse.dir``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in {**_LOCAL_DEFAULTS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    # scale-adaptive, not a constant tuned to one host: one shuffle
    # partition per core locally (AQE still coalesces below that); the
    # 100 TB value is CLUSTER_CONF's 8192
    builder = builder.config("spark.sql.shuffle.partitions", str(cpus))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
