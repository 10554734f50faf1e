"""Session-layer tests: the Python worker daemon shim, and a get_session()
process started from another directory with no PYTHONPATH (the shape of
the driver harness launching the package)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from australis_indexer_spark import pydaemon
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
