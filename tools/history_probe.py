"""Scan cost against table history: jobs and seconds of a merge-on-read
scan as the number of MOR merges grows.

Usage: python tools/history_probe.py [N ...]   (default: 10 100)

For each N, builds a fresh MOR table (400 rows in 4 partitions, then N
merges of 4 rows: 2 updates, 2 inserts — each merge adds one data dir and
one equality-delete file) under a temporary directory, then measures:

- `scan()` construction: Spark jobs launched (`nextJobId()` diff) and
  wall seconds — this is scan planning from table metadata;
- `scan().count()` on the constructed frame: jobs and wall seconds
  (best of 3; the job count is the same every pass).

Prints one JSON line per N plus a `host` line (nproc, master, loadavg),
so a recorded figure carries the hardware it was measured on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_apache_iceberg_workshop_spark.session import build_session  # noqa: E402
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable  # noqa: E402

DDL = "id bigint, category string, qty bigint"
BASE_ROWS = 400


def build(spark, root: str, merges: int) -> SnapshotTable:
    t = SnapshotTable.create(
        spark, root, DDL, partition_by=["category"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.write(spark.createDataFrame(
        [(i, f"c{i % 4}", i) for i in range(BASE_ROWS)], DDL
    ).coalesce(1))
    for m in range(merges):
        rows = [(m, f"c{m % 4}", -m), (m + 1, f"c{(m + 1) % 4}", -m)]
        rows += [(BASE_ROWS + 2 * m + k, f"c{k}", m) for k in (0, 1)]
        t.merge(spark.createDataFrame(rows, DDL).coalesce(1), keys=["id"])
    return t


def probe(spark, t: SnapshotTable, merges: int) -> dict:
    def jobs() -> int:
        return spark._jsc.sc().dagScheduler().nextJobId()

    j0, t0 = jobs(), time.perf_counter()
    df = t.scan()
    build_s, build_jobs = time.perf_counter() - t0, jobs() - j0
    count_s, count_jobs, rows = [], [], None
    for _ in range(3):
        j0, t0 = jobs(), time.perf_counter()
        rows = df.count()
        count_s.append(time.perf_counter() - t0)
        count_jobs.append(jobs() - j0)
    return {
        "merges": merges,
        "rows": rows,
        "scan_build_jobs": build_jobs,
        "scan_build_s": round(build_s, 3),
        "count_jobs": count_jobs[-1],
        "count_s": round(min(count_s), 3),
    }


def main() -> int:
    ns = [int(a) for a in sys.argv[1:]] or [10, 100]
    spark = build_session(
        "eiws-history-probe", extra_confs={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="history_probe_")
    try:
        # warm the JVM on a throwaway table so the first N is not cold
        probe(spark, build(spark, os.path.join(work, "warm"), 2), 2)
        for n in ns:
            t = build(spark, os.path.join(work, f"t{n}"), n)
            print(json.dumps(probe(spark, t, n)), flush=True)
        print("host " + json.dumps({
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
