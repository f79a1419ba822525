"""Merge-on-read scans cost a flat number of Spark jobs.

Building a scan reads every engine-written file (data dirs, equality-
and positional-delete files, mask files) with the schema the table
metadata records, so planning launches no schema-inference job. Each
data row's `__sid` is parsed from its file path instead of a per-dir
literal, so every data dir anti-joins the same delete relation and it is
broadcast once: the jobs a scan runs do not grow with the table's
history. Job counts are read with `dagScheduler().nextJobId()`.

Also pinned here: root-relative paths under a root whose name needs URI
encoding (and itself contains a `data/s<id>` segment), and the bronze ->
silver pipeline consuming main's head rather than an unpublished
write-audit-publish branch.
"""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from emr_apache_iceberg_workshop_spark.pipelines import (
    BronzeSilverConfig,
    RawBronzeConfig,
    run_bronze_silver,
    run_raw_bronze,
)
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

DDL = "id bigint, category string, qty bigint"
MOR = {
    "write.merge.mode": "merge-on-read",
    "write.delete.mode": "merge-on-read",
}


def _jobs(spark) -> int:
    return spark._jsc.sc().dagScheduler().nextJobId()


def _mk(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _state(df) -> list:
    return sorted((r.id, r.category, r.qty) for r in df.collect())


def _mor_table(spark, root, merges: int) -> SnapshotTable:
    """16 rows in 4 partitions, then `merges` MOR merges that each
    update one old key and insert one new key."""
    t = SnapshotTable.create(
        spark, root, DDL, partition_by=["category"], properties=dict(MOR)
    )
    t.write(_mk(spark, [(i, f"c{i % 4}", i) for i in range(16)]))
    for m in range(merges):
        t.merge(_mk(spark, [(m, "c0", 100 + m), (100 + m, "c1", m)]), keys=["id"])
    return t


def _expected(merges: int) -> list:
    state = {i: (f"c{i % 4}", i) for i in range(16)}
    for m in range(merges):
        state[m] = ("c0", 100 + m)
        state[100 + m] = ("c1", m)
    return sorted((k, c, q) for k, (c, q) in state.items())


def _every_delete_kind(spark, root) -> tuple[SnapshotTable, int]:
    """A table whose head carries a mask file (capped COW merge), an
    equality-delete file (MOR merge) and a positional-delete file.
    Returns the table and the id of its first MOR snapshot."""
    t = SnapshotTable.create(
        spark, root, DDL, partition_by=["category"],
        properties={"write.cow.scope-cap": "1"},
    )
    t.write(_mk(spark, [(i, f"c{i % 4}", i) for i in range(16)]))
    t.merge(_mk(spark, [(0, "c0", 50), (1, "c1", 51)]), keys=["id"])  # capped COW
    t.set_properties(dict(MOR, **{"write.delete.style": "position"}))
    first_mor = t.merge(_mk(spark, [(2, "c2", 52), (40, "c3", 53)]), keys=["id"])
    t.delete_where("id = 5")
    return t, first_mor


def test_building_mor_scans_launches_no_job(spark, tmp_path):
    t, first_mor = _every_delete_kind(spark, str(tmp_path / "t"))
    head = t.latest_snapshot_id()
    snap = next(s for s in t.snapshots() if s.snapshot_id == head)
    assert snap.active_deletes and any(
        isinstance(e, dict) and e.get("exclude_masks") for e in snap.active_dirs
    )
    assert {d.get("style", "equality") for d in snap.active_deletes} == {
        "equality", "position"
    }
    builders = {
        "scan": lambda: t.scan(),
        "scan_at": lambda: t.scan_at(head - 1),
        "changes": lambda: t.changes(first_mor - 1, head),
        "changes_full": lambda: t.changes(first_mor - 1, head, full_preimages=True),
        "position_deletes_table": lambda: t.position_deletes_table(),
    }
    for name, build in builders.items():
        j0 = _jobs(spark)
        build()
        assert _jobs(spark) - j0 == 0, name
    want = {
        (0, "c0", 50), (1, "c1", 51), (2, "c2", 52), (40, "c3", 53),
    } | {(i, f"c{i % 4}", i) for i in range(3, 16) if i != 5}
    assert _state(t.scan()) == sorted(want)
    pd = t.position_deletes_table().collect()
    assert len(pd) == 1 and pd[0].delete_snapshot_id == head
    assert pd[0].delete_file == f"deletes/s{head}"


def test_scan_jobs_flat_in_merge_count(spark, tmp_path):
    counts = {}
    for merges in (2, 8):
        t = _mor_table(spark, str(tmp_path / f"m{merges}"), merges)
        df = t.scan()
        j0 = _jobs(spark)
        assert df.count() == len(_expected(merges))
        counts[merges] = _jobs(spark) - j0
        assert _state(t.scan()) == _expected(merges)
    assert counts[2] == counts[8], counts


HEADER = (
    "Op\treplicadmstimestamp\tinvoiceid\titemid\tcategory\tprice\tquantity"
    "\torderdate\tdestinationstate\tshippingtype\treferral"
)


def _cdc_line(op: str, day: int, inv: int, item: int, cat: str, state: str) -> str:
    return (
        f"{op}\t2024-11-{day:02d} 10:00:00.000000\t{inv}\t{item}\t{cat}\t10.5\t1"
        f"\t2024-01-01\t{state}\t2-Day\tbook"
    )


def _pipeline(tmp_path):
    raw = str(tmp_path / "raw")
    os.makedirs(raw, exist_ok=True)
    rb = RawBronzeConfig(
        input_dir=raw,
        table_root=str(tmp_path / "bronze"),
        checkpoint_path=str(tmp_path / "ckpt" / "rb.json"),
    )
    bs = BronzeSilverConfig(
        bronze_root=str(tmp_path / "bronze"),
        silver_root=str(tmp_path / "silver"),
        checkpoint_path=str(tmp_path / "ckpt" / "bs.json"),
    )
    return raw, rb, bs


def _land(raw: str, n: int, lines: list[str]) -> None:
    p = os.path.join(raw, f"batch{n:03d}.csv")
    with open(p, "w") as f:
        f.write(HEADER + "\n" + "\n".join(lines) + "\n")
    os.utime(p, (1_700_000_000 + n, 1_700_000_000 + n))


def test_pipeline_op_jobs_flat_in_merge_count(spark, tmp_path):
    raw, rb, bs = _pipeline(tmp_path)
    jobs = {}
    for n in range(1, 10):
        _land(raw, n, [
            _cdc_line("U", n, 1, 1, f"cat{n}", "SC"),
            _cdc_line("I", n, 100 + n, 1, "new", ["SC", "CT", "VI"][n % 3]),
        ])
        j0 = _jobs(spark)
        r = run_raw_bronze(spark, rb, clock=datetime(2024, 12, n))
        s = run_bronze_silver(spark, bs)
        jobs[n - 1] = _jobs(spark) - j0  # silver held n - 1 merges before the op
        assert r["rows"] == 2 and not s["skipped"] and s["rows"] == n + 1
    assert jobs[2] == jobs[8], jobs


def test_wap_published_bronze_commit_reaches_silver(spark, tmp_path):
    raw, rb, bs = _pipeline(tmp_path)
    _land(raw, 1, [_cdc_line("I", 1, 1, 1, "main", "SC")])
    run_raw_bronze(spark, rb, clock=datetime(2024, 12, 1))
    bronze = SnapshotTable(spark, rb.table_root)
    staged = bronze.scan().withColumn("invoiceid", F.col("invoiceid") + 1)
    bronze.write(staged.localCheckpoint(eager=True), branch="audit")

    first = run_bronze_silver(spark, bs)
    assert not first["skipped"]
    bronze.fast_forward("audit")
    second = run_bronze_silver(spark, bs)
    assert not second["skipped"] and second["rows"] == 2
    silver = SnapshotTable(spark, bs.silver_root).scan()
    assert sorted(r.invoiceid for r in silver.collect()) == [1, 2]


@pytest.fixture()
def odd_root(tmp_path):
    """A table root that needs URI encoding (space, '%', '+') and holds
    a `data/s9/` segment of its own."""
    return str(tmp_path / "data" / "s9" / "enc dir%41+x" / "t")


def test_special_char_root_mor_and_positional(spark, odd_root):
    t = _mor_table(spark, odd_root, 3)
    assert _state(t.scan()) == _expected(3)
    t.set_properties({"write.delete.style": "position"})
    t.delete_where("id = 7")
    want = [r for r in _expected(3) if r[0] != 7]
    assert _state(t.scan()) == want
    for r in t.position_deletes_table().collect():
        assert os.path.isfile(os.path.join(odd_root, r.file_path)), r.file_path
    pruned = t.scan_pruned("id", 0, 200)
    assert _state(pruned) == want
    assert t.scan_pruned("id", 7, 7).filter("id = 7").count() == 0
