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

Local sessions also replace Hadoop's ``file:`` filesystem with
``jvm/NioLocalFs.java``. Without native libhadoop, ``RawLocalFileSystem``
forks ``chmod`` for every file and directory it creates (each ``.crc``
too) and ``readlink`` for every ``getFileLinkStatus``, of which each
FileContext rename of a checkpoint file makes several. A backfill of the
benchmark's 160 blocks forked 433 times (145 ``chmod``, 288 ``readlink``)
at 2-3 ms each from a 3 GB driver JVM on a 4-vCPU host, all on the
micro-batch's blocking path: the offset WAL, the commit log, state store
deltas and the sink's parquet parts. ``NioLocalFs`` makes the same calls through java.nio
and writes the same files, ``.crc`` and checkpoint checksum files, with the
same modes and the same atomic renames. It serves both the FileSystem API
(``fs.file.impl``, the sinks) and the FileContext API
(``fs.AbstractFileSystem.file.impl``, Spark's checkpoint manager, offset
and commit logs, state store). The FileSystem class it replaces is, on a
stock pyspark install, Hive's ``ProxyLocalFileSystem`` (found by Hadoop's
service loader), whose rename does not replace an existing file; neither
does ``NioLocalFs``. Clusters with libhadoop, HDFS or S3 never fork here,
so ``CLUSTER_CONF`` and vanilla sessions keep Hadoop's defaults.

The same class directory holds ``jvm/WireCodecs.java``, the JVM side of
the envelope's wire codecs (see ``functions.codecs.wire_udf``).
``get_session()`` compiles every ``jvm/*.java`` file in one ``javac`` call,
once per set of sources and jar versions, into the user cache; a host with
no JDK compiler keeps the stock filesystem and the pandas codec UDFs.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# the directory that holds the package, for the Python workers' sys.path
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory(phys_bytes: int) -> str:
    """Half the host's physical memory, capped at the 48g a 128 GiB box
    gets. A fixed 48g let the driver JVM grow past a small host's memory:
    an sf0.1 registry walk on a 15 GB host was OOM-killed."""
    mib = phys_bytes // 2 // 2**20
    return "48g" if mib >= 48 * 1024 else f"{mib}m"


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
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    or _default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
    # the driver's events.parquet carries INT64 TIMESTAMP(NANOS) which Spark
    # has no native type for; read as LongType ns and convert in the loader
    "spark.sql.legacy.parquet.nanosAsLong": "true",
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


_JVM_SOURCES = os.path.join(_PKG_ROOT, "australis_indexer_spark", "jvm")
# what the sources compile against, from the running Spark's jars/ (javac
# needs the two Scala jars to resolve the overloads of functions.udf)
_JVM_JARS = ("hadoop-client-api", "spark-sql-api", "scala-library", "scala-reflect")
_NIO_FS_CLASS = "australis_indexer_spark.jvm.NioLocalFs"


def _find_javac() -> str | None:
    """The JDK compiler beside the ``java`` that ``spark-class`` runs:
    ``$JAVA_HOME/bin``, else ``PATH``; None on a JRE-only host."""
    java_home = os.environ.get("JAVA_HOME")
    if java_home:
        javac = os.path.join(java_home, "bin", "javac")
        return javac if os.access(javac, os.X_OK) else None
    return shutil.which("javac")


def _jvm_class_key(sources: list[str], jars: list[str]) -> str:
    """The class cache's key: every source file's name and bytes, and the
    name (so the version) of every jar they compile against."""
    h = hashlib.sha256()
    for src in sorted(sources):
        with open(src, "rb") as f:
            h.update(os.path.basename(src).encode() + b"\0" + f.read() + b"\0")
    h.update("\0".join(sorted(os.path.basename(j) for j in jars)).encode())
    return h.hexdigest()[:16]


def _jvm_conf() -> dict[str, str]:
    """The conf entries that put ``jvm/*.java`` on the driver's class path
    and swap in ``NioLocalFs`` (module docstring). The sources compile in
    one ``javac`` call on first use, into a content-hashed class directory
    under the user cache; empty when no JDK compiler is found."""
    javac = _find_javac()
    if javac is None:
        return {}
    from pyspark.find_spark_home import _find_spark_home

    sources = sorted(glob.glob(os.path.join(_JVM_SOURCES, "*.java")))
    jars = sorted(j for name in _JVM_JARS
                  for j in glob.glob(os.path.join(_find_spark_home(), "jars", f"{name}[-_][0-9]*.jar")))
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    classes = os.path.join(cache, "australis_indexer_spark", f"jvm-{_jvm_class_key(sources, jars)}")
    if not os.path.isdir(classes):
        os.makedirs(os.path.dirname(classes), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="jvm-build-", dir=os.path.dirname(classes))
        try:
            # --release 17: Spark 4's minimum, so a newer javac's classes
            # still load in the JVM that spark-class starts
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", os.pathsep.join(jars),
                 "-d", tmp, *sources],
                check=True,
            )
            try:
                os.rename(tmp, classes)
            except OSError:  # another process installed it first
                if not os.path.isdir(classes):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": f"{_NIO_FS_CLASS}$Local",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_NIO_FS_CLASS}$Fs",
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
    conf = {**_LOCAL_DEFAULTS, **_jvm_conf(), **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    # scale-adaptive, not a constant tuned to one host: one shuffle
    # partition per core locally (AQE still coalesces below that); the
    # 100 TB value is CLUSTER_CONF's 8192
    builder = builder.config("spark.sql.shuffle.partitions", str(cpus))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
