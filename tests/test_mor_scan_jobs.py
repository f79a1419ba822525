"""Merge-on-read scans cost a flat number of Spark jobs and tasks.

Building a scan reads every engine-written file (data dirs, equality-
and positional-delete files, mask files) with the schema the table
metadata records, so planning launches no schema-inference job. The
active data dirs of a table state are one parquet relation (one per
`parallelPartitionDiscovery.threshold` dirs), so the count's scan stage
packs all files into the same splits at any history length. Each data
row's `__sid` is parsed from its file path instead of a per-dir
literal, so the data anti-joins one delete relation and it is broadcast
once. Job counts are read with `dagScheduler().nextJobId()`, task counts
from Spark's status store.

Also pinned here: root-relative paths under a root whose name needs URI
encoding (and itself contains a `data/s<id>` segment), partition values
that need Hive escaping round-tripping through every read entry point,
partition pruning, the drop/re-add rule on pruned scans, and the bronze
-> silver pipeline consuming main's head rather than an unpublished
write-audit-publish branch.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from emr_apache_iceberg_workshop_spark.pipelines import (
    BronzeSilverConfig,
    RawBronzeConfig,
    run_bronze_silver,
    run_raw_bronze,
)
from emr_apache_iceberg_workshop_spark.session import scoped_confs
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable
from tools.history_probe import scan_stage_tasks

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


def _mor_table(spark, root, merges: int, base: int = 16) -> SnapshotTable:
    """`base` rows in 4 partitions, one file per row, then `merges` MOR
    merges that each update one old key and insert one new key."""
    t = SnapshotTable.create(
        spark, root, DDL, partition_by=["category"], properties=dict(MOR)
    )
    t.write(_mk(spark, [(i, f"c{i % 4}", i) for i in range(base)]).repartition(base))
    for m in range(merges):
        t.merge(_mk(spark, [(m, "c0", 100 + m), (100 + m, "c1", m)]), keys=["id"])
    return t


def _expected(merges: int, base: int = 16) -> list:
    state = {i: (f"c{i % 4}", i) for i in range(base)}
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


# base files: enough that the session's 8 cores each get several files
# of the one data relation at 2 merges already (each file costs the 4 MB
# open cost, so Spark packs ~n/8 + 1 files a split)
WIDE = 64


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory) -> dict:
    """merges -> a MOR table of `WIDE` one-row files and that many
    merges (each adds a data dir and an equality-delete file)."""
    root = tmp_path_factory.mktemp("merged")
    return {m: _mor_table(spark, str(root / f"m{m}"), m, WIDE) for m in (2, 8)}


def _scan_stage_tasks(spark, df) -> int:
    j0 = _jobs(spark)
    df.count()
    return scan_stage_tasks(spark, j0, _jobs(spark))


def _relations(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("Relation [")


def test_scan_jobs_flat_in_merge_count(spark, merged):
    counts = {}
    for merges, t in merged.items():
        df = t.scan()
        j0 = _jobs(spark)
        assert df.count() == len(_expected(merges, WIDE))
        counts[merges] = _jobs(spark) - j0
        assert _state(t.scan()) == _expected(merges, WIDE)
    assert counts[2] == counts[8], counts


def test_scan_tasks_flat_in_merge_count(spark, merged):
    """The data dirs are one relation, so `scan().count()` packs every
    data file into the same splits: its scan stage runs as many tasks
    after 8 merges as after 2 (one relation per dir gave each dir its
    own splits, so the stage grew by the merge dirs' files)."""
    tasks = {m: _scan_stage_tasks(spark, t.scan()) for m, t in merged.items()}
    assert tasks[2] == tasks[8], tasks
    assert {m: _relations(t.scan()) for m, t in merged.items()} == {2: 2, 8: 2}


def test_partition_filter_reads_only_the_partitions_files(spark, merged):
    """A filter on an identity-partition column is a partition filter:
    the scan opens exactly the live files of that partition."""
    t = merged[8]
    live = t._live_files()
    want = sum(1 for _rel, f in live if f["partition"] == {"category": "c1"})
    assert 0 < want < len(live)
    df = t.scan().filter("category = 'c1'")
    with scoped_confs(spark, {"spark.sql.adaptive.enabled": "false"}):
        rows = df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    read = sum(
        leaves.apply(i).metrics().apply("numFiles").value()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "FileSourceScanExec"
        and leaves.apply(i).relation().partitionSchema().nonEmpty()
    )
    assert read == want
    assert sorted(map(tuple, rows)) == [r for r in _expected(8, WIDE) if r[1] == "c1"]


def _stage_copy(t: SnapshotTable, rel: str) -> str:
    """A hardlinked copy of data dir `rel`, staged for `commit_staged`."""
    stage = os.path.join(t.root, "data", f".stage-{uuid.uuid4().hex[:12]}")
    shutil.copytree(os.path.join(t.root, rel), stage, copy_function=os.link)
    return stage


def test_relations_chunk_at_the_listing_threshold(spark, tmp_path):
    """N same-layout data dirs are ceil(N / 32) parquet relations, and
    past 32 dirs building the scan still launches no job (Spark lists
    more than `parallelPartitionDiscovery.threshold` paths with one).
    Equality and positional deletes then read each row's file path and
    row index across both relations."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), DDL, partition_by=["category"])
    t.write(_mk(spark, [(i, f"c{i % 2}", i) for i in range(4)]).coalesce(1))
    for n in range(2, 34):
        t.commit_staged(_stage_copy(t, "data/s1"), ["category"])
        if n in (32, 33):
            j0 = _jobs(spark)
            df = t.scan()
            assert _jobs(spark) - j0 == 0, n
            assert _relations(df) == math.ceil(n / 32), n
            assert df.count() == 4 * n
    t.delete_keys(spark.createDataFrame([(0,)], "id bigint"), ["id"])
    t.set_properties({**MOR, "write.delete.style": "position"})
    t.delete_where("id = 1")
    assert sorted(r.id for r in t.scan().collect()) == [2] * 33 + [3] * 33


HOSTILE = ["a b", "x%y", "p+q", "s/t", "u:v", "k=w", None, "plain"]
HOSTILE_DDL = "id bigint, s string, d date, ts timestamp"


def _hostile_rows(first: int, values) -> list:
    return [
        (first + i, v, date(2024, 1, 1 + first + i),
         datetime(2024, 1, 1, 10, first + i, 5, 123000))
        for i, v in enumerate(values)
    ]


@pytest.fixture(scope="module")
def hostile(spark, tmp_path_factory):
    """A table partitioned by a string, a date and a timestamp, whose
    string values need Hive escaping (or are NULL), in two appends."""
    root = str(tmp_path_factory.mktemp("hostile") / "t")
    t = SnapshotTable.create(spark, root, HOSTILE_DDL, partition_by=["s", "d", "ts"])
    t.write(spark.createDataFrame(_hostile_rows(0, HOSTILE[:4]), HOSTILE_DDL))
    t.write(spark.createDataFrame(_hostile_rows(4, HOSTILE[4:]), HOSTILE_DDL))
    return t


def test_hostile_partition_values_round_trip(hostile):
    t = hostile
    want = sorted(_hostile_rows(0, HOSTILE[:4]) + _hostile_rows(4, HOSTILE[4:]))
    reads = {
        "scan": t.scan(),
        "scan_at": t.scan_at(2),
        "scan_incremental": t.scan_incremental(0, 2),
        "changes": t.changes(0, 2).drop("_change_type", "_snapshot_id"),
        "scan_pruned": t.scan_pruned("id", 0, 100),
        "scan_pruned_in": t.scan_pruned_in("id", list(range(8))),
    }
    for name, df in reads.items():
        assert sorted(map(tuple, df.collect())) == want, name
    assert sorted(map(tuple, t.scan_at(1).collect())) == want[:4]
    for v in HOSTILE:
        got = t.scan().filter(F.col("s").eqNullSafe(F.lit(v))).collect()
        assert [r.s for r in got] == [v], v


def test_pruned_scans_read_a_re_added_column_as_new(spark, tmp_path):
    """A column dropped and re-added is a new column: files written
    before the re-add read NULL for it in every scan, the manifest-
    pruned ones too, not the dead column's old values."""
    ddl = "id bigint, v string"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(1, "old")], ddl))
    t.evolve_schema(drop=["v"])
    t.evolve_schema(add={"v": "string"})
    t.write(spark.createDataFrame([(2, "new")], ddl))
    want = [(1, None), (2, "new")]
    assert sorted(map(tuple, t.scan().collect())) == want
    assert sorted(map(tuple, t.scan_pruned("id", 0, 10).collect())) == want
    assert sorted(map(tuple, t.scan_pruned_in("id", [1, 2]).collect())) == want


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
