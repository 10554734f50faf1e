"""Session-layer tests: the Python worker daemon shim, a get_session()
process started from another directory with no PYTHONPATH (the shape of
the driver harness launching the package), and the java.nio ``file:``
filesystem local sessions swap in."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from australis_indexer_spark import pydaemon, session
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, module: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", source)


def test_daemon_shim_rereads_only_changed_archives(tmp_path, monkeypatch):
    """A rewritten archive is still re-read on invalidate_caches(); an
    unchanged one is not."""
    module = "aispark_zipprobe"
    archive = tmp_path / "probe.zip"
    _write_zip(archive, module, "X = 1\n")
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(module).X == 1
        importlib.invalidate_caches()  # an importer's first call reads once
        n = reads.count(str(archive))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n  # unchanged: not re-read

        _write_zip(archive, module, "X = 22\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 1  # changed: re-read
        del sys.modules[module]
        assert importlib.import_module(module).X == 22
    finally:
        sys.modules.pop(module, None)
        sys.path_importer_cache.pop(str(archive), None)


_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from australis_indexer_spark.registry import load_all
from australis_indexer_spark.session import get_session

spark = get_session("session_probe", cpus=4)


@F.pandas_udf("string")
def worker_info(s: pd.Series) -> pd.Series:
    import os, time, zipimport
    time.sleep(0.5)  # keep all four tasks in flight at once
    code = zipimport.zipimporter.invalidate_caches.__code__
    return pd.Series([f"{{os.getpid()}} {{code.co_filename}}"] * len(s))


runs = []
for _ in range(2):
    rows = spark.range(0, 4, 1, 4).select(worker_info("id")).collect()
    runs.append(sorted({{r[0] for r in rows}}))
ops = load_all()
heights = [r[0] for r in ops["scan_custom_source_stream"].fn(spark, {sf!r})
           .select("sequence_id").collect()]
cbor = ops["cbor_decode"].fn(spark, {sf!r}).collect()
print(json.dumps({{
    "runs": runs,
    "custom_source_heights": sorted(heights),
    "cbor_rows": len(cbor),
    "cbor_ok": all(r["roundtrip_ok"] for r in cbor),
}}))
"""


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    """One get_session() process run from a temp cwd with PYTHONPATH unset
    and its own TMPDIR; returns its report and that TMPDIR."""
    cwd = tmp_path_factory.mktemp("probe_cwd")
    tmp = cwd / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="2g",
               SPARK_LOCAL_DIRS=str(cwd / "spark-local"))
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=str(REPO), sf=SF_SMOKE)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1]), tmp


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the shim only patches CPython < 3.12")
def test_local_workers_fork_from_pydaemon_and_are_reused(probe):
    report, _ = probe
    first, second = report["runs"]
    assert all(info.endswith(os.path.join("australis_indexer_spark", "pydaemon.py"))
               for info in first + second)
    pids = [{info.split()[0] for info in run} for run in (first, second)]
    assert len(pids[0]) == 4 and pids[1] == pids[0]


def test_python_ops_run_from_other_directory_without_pythonpath(probe):
    """The custom streaming source's planner and the codec UDFs' workers
    import the package from the session's executor PYTHONPATH."""
    report, _ = probe
    assert report["custom_source_heights"] == list(range(63600, 63900))
    assert report["cbor_rows"] > 0 and report["cbor_ok"]


def test_session_leaves_no_executor_zip(probe):
    _, tmp = probe
    assert not list(tmp.glob("**/australis_indexer_spark-*.zip"))


# --- the java.nio file: filesystem ------------------------------------------

_NIO_KEYS = ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl",
             "spark.hadoop.fs.AbstractFileSystem.file.impl")

# Counts javac runs, then starts get_session(); with a work dir argument it
# also runs the block pipeline into <work>/sink and <work>/ckpt and probes
# the session's FileContext. Prints one JSON line.
_FS_PROBE = """
import json, os, subprocess, sys
sys.path.insert(0, {repo!r})
javac_runs = []
_run = subprocess.run
def _counting_run(cmd, *a, **k):
    if os.path.basename(str(cmd[0])) == "javac":
        javac_runs.append(cmd[0])
    return _run(cmd, *a, **k)
subprocess.run = _counting_run
os.umask(0o022)
from australis_indexer_spark.session import get_session
spark = get_session("fs_probe", cpus=2)
jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
P = jvm.org.apache.hadoop.fs.Path
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
report = {{
    "javac_runs": len(javac_runs),
    "class_path": spark.sparkContext.getConf().get("spark.driver.extraClassPath"),
    "fs_class": fs.getClass().getName(),
}}
if len(sys.argv) > 1:
    from py4j.protocol import Py4JJavaError
    from australis_indexer_spark.streaming.pipeline import run_pipeline, shared_stream_source
    work, log = sys.argv[1], sys.argv[2]
    src = shared_stream_source(spark)
    open(log, "w").close()  # count the pipeline's forks only
    run_pipeline(spark, src, os.path.join(work, "sink"), os.path.join(work, "ckpt"))
    report["forks"] = open(log).read().splitlines()
    src_f, dst_f = os.path.join(work, "src_file"), os.path.join(work, "dst_file")
    open(src_f, "w").close()
    open(dst_f, "w").close()
    report["rename_over_file"] = fs.rename(P(src_f), P(dst_f))
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hconf)
    report["afs_class"] = fc.getDefaultFileSystem().getClass().getName()
    target, link = os.path.join(work, "target"), os.path.join(work, "link")
    open(target, "w").close()
    os.symlink(target, link)
    # a plain path: for a file: URI the stock readlink gets "file:/..." and
    # reports a non-link, with or without NioLocalFs
    st = fc.getFileLinkStatus(P(link))
    report["link"] = [st.isSymlink(), st.getSymlink().toUri().getPath()]
    try:
        fc.getFileLinkStatus(P(os.path.join(work, "missing")))
        report["missing"] = None
    except Py4JJavaError as e:
        report["missing"] = e.java_exception.getClass().getName()
print(json.dumps(report))
"""


def _run_fs_probe(cwd: Path, env: dict, *args: str) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", _FS_PROBE.format(repo=str(REPO)), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def fs_probe(tmp_path_factory):
    """A get_session() pipeline run with logging chmod/readlink shims first
    on PATH and a fresh user cache; returns its report, its work dir and
    the environment (for a second process on the same cache)."""
    root = tmp_path_factory.mktemp("fs_probe")
    shims, work = root / "shims", root / "work"
    shims.mkdir()
    work.mkdir()
    log = root / "forks.log"
    for tool in ("chmod", "readlink"):
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho "{tool} $*" >> {log}\nexec {shutil.which(tool)} "$@"\n')
        shim.chmod(0o755)
    env = {**os.environ, "PATH": f"{shims}{os.pathsep}{os.environ['PATH']}",
           "XDG_CACHE_HOME": str(root / "cache"), "SPARK_GRAFT_DRIVER_MEM": "2g",
           "SPARK_LOCAL_DIRS": str(root / "spark-local")}
    return _run_fs_probe(root, env, str(work), str(log)), work, env


_needs_javac = pytest.mark.skipif(
    session._find_javac() is None, reason="no JDK compiler: the stock filesystem stays"
)


@_needs_javac
def test_local_session_filesystem_never_forks(fs_probe):
    report, _, _ = fs_probe
    assert report["fs_class"] == "australis_indexer_spark.jvm.NioLocalFs$Local"
    assert report["afs_class"] == "australis_indexer_spark.jvm.NioLocalFs$Fs"
    assert report["forks"] == []


@_needs_javac
def test_local_session_files_keep_modes_and_checksums(fs_probe):
    """Under umask 022 every sink and checkpoint file is 0644 and every
    directory 0755; parquet parts and state deltas keep their .crc."""
    _, work, _ = fs_probe
    parts, deltas = [], []
    for top in (work / "sink", work / "ckpt"):
        assert stat.S_IMODE(top.stat().st_mode) == 0o755
        for path in top.rglob("*"):
            want = 0o755 if path.is_dir() else 0o644
            assert stat.S_IMODE(path.stat().st_mode) == want, path
            if path.name.endswith(".parquet"):
                parts.append(path)
            elif path.name.endswith(".delta") and not path.name.startswith("."):
                deltas.append(path)
    assert parts and deltas
    for path in parts + deltas:
        assert (path.parent / f".{path.name}.crc").is_file(), path


@_needs_javac
def test_local_session_filecontext_resolves_links_and_missing_paths(fs_probe):
    report, work, _ = fs_probe
    assert report["link"] == [True, str(work / "target")]
    assert report["missing"] == "java.io.FileNotFoundException"


@_needs_javac
def test_local_session_rename_keeps_an_existing_file(fs_probe):
    """As with the stock file: class here (Hive's ProxyLocalFileSystem),
    FileSystem.rename onto an existing file fails and replaces nothing."""
    report, work, _ = fs_probe
    assert report["rename_over_file"] is False
    assert (work / "src_file").exists() and (work / "dst_file").exists()


@_needs_javac
def test_filesystem_classes_compile_once_per_cache(fs_probe, tmp_path):
    """The first process compiled into the fresh cache; a second one with
    unchanged source reuses the class directory without running javac."""
    first, _, env = fs_probe
    cache = Path(env["XDG_CACHE_HOME"]) / "australis_indexer_spark"
    (classes,) = cache.iterdir()
    stamp = classes.stat().st_mtime_ns
    second = _run_fs_probe(tmp_path, {**env, "SPARK_LOCAL_DIRS": str(tmp_path / "sl")})
    assert (first["javac_runs"], second["javac_runs"]) == (1, 0)
    assert [p.name for p in cache.iterdir()] == [classes.name]
    assert classes.stat().st_mtime_ns == stamp
    assert first["class_path"] == second["class_path"] == str(classes)
    assert second["fs_class"] == "australis_indexer_spark.jvm.NioLocalFs$Local"


def test_class_cache_key_follows_every_jvm_source(tmp_path):
    """The class directory's key changes when any jvm/*.java source
    changes or is added, and when a jar they compile against changes
    version; unchanged inputs give the same key wherever they live."""
    sources = sorted(Path(session._JVM_SOURCES).glob("*.java"))
    assert {p.name for p in sources} >= {"NioLocalFs.java", "WireCodecs.java"}
    copies = [str(shutil.copy(p, tmp_path / p.name)) for p in sources]
    jars = ["/spark/jars/hadoop-client-api-3.4.2.jar", "/spark/jars/spark-sql-api_2.13-4.1.2.jar"]
    key = session._jvm_class_key(copies, jars)
    assert session._jvm_class_key([str(p) for p in sources], jars) == key
    for copy in map(Path, copies):
        text = copy.read_bytes()
        copy.write_bytes(text + b"// edited\n")
        assert session._jvm_class_key(copies, jars) != key, copy.name
        copy.write_bytes(text)
    assert session._jvm_class_key(copies, jars) == key
    assert session._jvm_class_key(copies, ["/spark/jars/hadoop-client-api-3.4.3.jar", jars[1]]) != key
    (tmp_path / "Extra.java").write_text("class Extra {}\n")
    assert session._jvm_class_key([*copies, str(tmp_path / "Extra.java")], jars) != key


def test_no_jdk_compiler_keeps_stock_filesystem(monkeypatch):
    monkeypatch.setattr(session, "_find_javac", lambda: None)
    assert session._jvm_conf() == {}
    assert not set(_NIO_KEYS) & set(session._LOCAL_DEFAULTS)


def test_default_driver_memory_is_half_the_host_capped_at_48g():
    gib = 2**30
    assert session._default_driver_memory(128 * gib) == "48g"
    assert session._default_driver_memory(96 * gib) == "48g"
    assert session._default_driver_memory(96 * gib - 2 * 2**20) == "49151m"
    assert session._default_driver_memory(15 * 10**9) == "7152m"


def test_cluster_conf_keeps_stock_filesystems():
    assert not [k for k in session.CLUSTER_CONF if k.startswith("spark.hadoop.fs.")]


def test_vanilla_session_reports_stock_filesystem(tmp_path):
    """The driver harness's vanilla session is untouched: no fs.file.impl,
    so Hadoop's service loader picks the file: class (Hive's
    ProxyLocalFileSystem on a stock pyspark install, which will not rename
    onto an existing file), and FileContext gets core-default's LocalFs."""
    script = (
        "import json, os\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[1]').getOrCreate()\n"
        "jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()\n"
        "fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI('file:///'), hconf)\n"
        "fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hconf)\n"
        "P = jvm.org.apache.hadoop.fs.Path\n"
        "open('a', 'w').close(); open('b', 'w').close()\n"
        "print(json.dumps([hconf.get('fs.file.impl'), fs.getClass().getName(),\n"
        "                  fc.getDefaultFileSystem().getClass().getName(),\n"
        "                  fs.rename(P(os.path.abspath('a')), P(os.path.abspath('b')))]))\n"
    )
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(tmp_path / "sl")}
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    impl, fs_class, afs_class, renamed = json.loads(r.stdout.strip().splitlines()[-1])
    assert impl is None
    assert fs_class.startswith("org.apache.hadoop.")
    assert afs_class == "org.apache.hadoop.fs.local.LocalFs"
    assert renamed is False  # an existing file is not replaced
