"""Build a multi-row-group COPY of a test dataset for scaling profiling.

The driver's sf parquet files are single-row-group, so every base scan is
one Spark task regardless of core count (row groups are the split unit —
VERDICT r10 "scaling signal is capped by the test data"). This tool rewrites
each table with small row groups (~64 KiB pages / explicit row_group_size)
so that, combined with a small ``spark.sql.files.maxPartitionBytes``, scans
split across cores and the 8-vs-32-core probe measures the OPERATORS rather
than the scan serialization. Set the split size on the profiling session, e.g.
``get_session(extra_conf={"spark.sql.files.maxPartitionBytes": "131072",
"spark.sql.files.openCostInBytes": "0"})``, or run ``tools/diffcheck.py``
with ``--conf microsplit``.

Content is byte-identical per row (same rows, same order, same arrow schema:
the table is read once and written back unchanged), so every oracle result
is unchanged; only the parquet row-group layout differs.

PROFILING ONLY — the output dir is not committed and the driver's bench
still runs on /root/testdata (this tool never touches it; it is read-only).

Usage: python tools/make_mrg_testdata.py [src_dir] [dst_dir] [n_groups]
       defaults: /root/testdata/sf0.1 /root/mrgdata/sf0.1 32
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pyarrow.parquet as pq


def main() -> None:
    src = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
    dst = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/mrgdata/sf0.1")
    n_groups = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    dst.mkdir(parents=True, exist_ok=True)
    for f in sorted(src.glob("*.parquet")):
        pf = pq.ParquetFile(f)
        table = pf.read()
        # ~n_groups groups per table; tiny dims stay single-group
        rows_per_group = max(math.ceil(pf.metadata.num_rows / n_groups), 64)
        out = dst / f.name
        pq.write_table(
            table,
            out,
            row_group_size=rows_per_group,
            compression="zstd",
            # match the source writer's format version so types (e.g.
            # events.ts INT64 TIMESTAMP(NANOS)) round-trip identically
            version="2.6",
        )
        check = pq.ParquetFile(out)
        assert check.metadata.num_rows == pf.metadata.num_rows, f.name
        assert check.schema_arrow.equals(pf.schema_arrow), (
            f"{f.name}: schema drift\n{check.schema_arrow}\nvs\n{pf.schema_arrow}"
        )
        print(
            f"{f.name}: {pf.metadata.num_rows} rows, "
            f"{pf.metadata.num_row_groups} -> {check.metadata.num_row_groups} row groups"
        )


if __name__ == "__main__":
    main()
