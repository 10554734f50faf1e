"""Python worker daemon for local sessions: ``pyspark.daemon`` minus the
per-task zip directory re-reads.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory — pyspark.zip, py4j and the spark-core jar, about 26k entries per
task on a reused worker. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` differs from what it last read, so a rewritten
zip is still picked up. CPython 3.12 made the re-read lazy (gh-103200); there
this module only hands over to ``pyspark.daemon``.
"""

import os
import runpy
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
