"""Round-10 hardening regressions: the r09 ADVICE findings.

1. dsv2 DDL helpers must survive complex types (map/struct/array) — the
   old parsers tracked only paren depth, so `map<string,int>` mis-split
   at its inner comma and silently corrupted `_births` (mis-null-fill).
2. rename_column must carry `write.sort-order` with the renamed column
   (like stats.*), or the declared write order silently vanishes.
3. Sort-order emission warns (instead of silently narrowing) when the
   declared sort column is missing from the current schema.
4. analyze() ndv must be pure integer arithmetic — the ~2^66 numerator
   exceeds float53 precision.
5. Streaming replay guard: snapshots committed by pre-scope code carry
   unscoped batch ids; a resumed checkpoint (batchId > 0, no scoped
   history) must treat them as done, while a brand-new query (batch 0)
   must not be suppressed by them.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T


# -- 1. DDL parsers vs complex types ----------------------------------------
def test_ddl_names_complex_types():
    from emr_apache_iceberg_workshop_spark.tables import _ddl_names

    assert _ddl_names("a bigint, b string") == ["a", "b"]
    assert _ddl_names("a:bigint,b:string") == ["a", "b"]
    assert _ddl_names("m map<string,int>, s struct<a:int,b:string>, x bigint") == [
        "m", "s", "x",
    ]
    assert _ddl_names("m:map<string,int>,s:struct<a:int,b:string>") == ["m", "s"]
    assert _ddl_names("d decimal(10,2), arr array<struct<k:string,v:int>>") == [
        "d", "arr",
    ]


def test_schema_ddl_at_complex_types():
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import _schema_ddl_at

    meta = {"schema": "m:map<string,int>,s:struct<a:int,b:string>", "snapshots": []}
    assert (
        _schema_ddl_at(meta, None)
        == "m map<string,int>, s struct<a:int,b:string>"
    )
    meta2 = {"schema": "m map<string,int>, d decimal(10,2)", "snapshots": []}
    assert _schema_ddl_at(meta2, None) == "m map<string,int>, d decimal(10,2)"


def test_ddl_fields_complex_types():
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import _ddl_fields

    assert _ddl_fields("m map<string,int>, x bigint") == [
        ("m", "map<string,int>"),
        ("x", "bigint"),
    ]
    assert _ddl_fields("s struct<a:int,b:string>") == [("s", "struct<a:int,b:string>")]


def test_births_complex_schema():
    """_births keyed by correct names even with a map column present."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    meta = {"schema": "id bigint, m map<string,int>", "snapshots": []}
    assert SnapshotTable._births(meta) == {"id": 0, "m": 0}


# -- 2/3. write.sort-order follows renames; missing column warns -------------
def test_rename_moves_write_sort_order(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.iceberg_meta import write_iceberg_metadata
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "id bigint, v bigint, w string"
    )
    t.write(spark.createDataFrame([(1, 10, "a")], "id bigint, v bigint, w string"))
    t.set_properties({"write.sort-order": "v, id"})
    t.rename_column("v", "val")
    props = t.properties()
    assert props["write.sort-order"] == "val, id"
    md = write_iceberg_metadata(t)
    with open(md) as fh:
        doc = json.load(fh)
    ids = {f["name"]: f["id"] for f in doc["schema"]["fields"]}
    order = doc["sort-orders"][doc["default-sort-order-id"]]["fields"]
    assert [f["source-id"] for f in order] == [ids["val"], ids["id"]]


def test_sort_order_missing_column_warns(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.iceberg_meta import write_iceberg_metadata
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(spark.createDataFrame([(1,)], "id bigint"))
    t.set_properties({"write.sort-order": "ghost, id"})
    with pytest.warns(UserWarning, match="ghost"):
        md = write_iceberg_metadata(t)
    with open(md) as fh:
        doc = json.load(fh)
    order = doc["sort-orders"][doc["default-sort-order-id"]]["fields"]
    assert len(order) == 1  # the surviving `id` field only


# -- 4. integer ndv estimator -------------------------------------------------
def test_analyze_ndv_integer_exact(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(spark.createDataFrame([(i,) for i in range(500)], "id bigint"))
    stats = t.analyze(["id"], k=64)
    s = stats["id"]
    assert s["ndv_est"] == (64 - 1) * (16**15) // s["kth_hash"]
    assert isinstance(s["ndv_est"], int)
    # the stored property carries the same exact integer
    stored = json.loads(t.properties()["stats.id"])
    assert stored["ndv_est"] == s["ndv_est"]


# -- 5. replay-guard scope isolation -------------------------------------------
def _writer(root: str, ckpt: str):
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import (
        SnapshotTableStreamWriter,
    )

    return SnapshotTableStreamWriter(
        {"table": root, "checkpointlocation": ckpt}, [("id", "bigint")], False
    )


def test_stream_guard_fresh_query_not_suppressed_by_legacy(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(
        spark.createDataFrame([(1,)], "id bigint"),
        summary_extra={"streaming.batch-id": 5},  # legacy, unscoped
    )
    w = _writer(t.root, str(tmp_path / "fresh_ckpt"))
    w.commit([], batchId=0)  # a brand-new query always starts at 0
    snaps = t.snapshots()
    assert len(snaps) == 2  # committed, NOT dropped against the legacy id
    assert snaps[-1].summary["streaming.batch-id"] == 0


# -- metadata_log_entries + discovery ----------------------------------------
def _emitting_table(spark, tmp_path, n_versions=3):
    from emr_apache_iceberg_workshop_spark.iceberg_meta import write_iceberg_metadata
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, qty bigint"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    for i in range(n_versions):
        t.write(spark.createDataFrame([(i, i * 10)], ddl).coalesce(1))
        write_iceberg_metadata(t)
    return t


def test_metadata_log_entries_table(spark, tmp_path):
    t = _emitting_table(spark, tmp_path, n_versions=3)
    rows = t.metadata_log_entries_table().orderBy("file").collect()
    assert [r["file"] for r in rows] == [
        "v1.metadata.json", "v2.metadata.json", "v3.metadata.json",
    ]
    assert [r["latest_snapshot_id"] for r in rows] == [1, 2, 3]
    # v1 docs have no sequence numbers (like Iceberg's NULL column)
    assert all(r["latest_sequence_number"] is None for r in rows)
    # timestamps are each version's own last-updated-ms, non-decreasing
    ts = [r["timestamp_ms"] for r in rows]
    assert ts == sorted(ts)


def test_discovery_past_v9_lexicographic_hazard(spark, tmp_path):
    """11 emissions: plain lexicographic sort would pick v9 over v11 on
    Hadoop-style names; the discovery rule must land on v11."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        discover_latest_metadata,
    )

    t = _emitting_table(spark, tmp_path, n_versions=11)
    latest = discover_latest_metadata(t.root)
    assert latest.endswith("v11.metadata.json")
    rows = t.metadata_log_entries_table().collect()
    assert len(rows) == 11


def test_discovery_disagreement_and_mid_commit_window(spark, tmp_path):
    import os

    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        discover_latest_metadata,
    )

    t = _emitting_table(spark, tmp_path, n_versions=2)
    hint = os.path.join(t.root, "metadata", "version-hint.text")
    # hint OLDER than the listing = the normal mid-commit window (writer
    # creates vN first, updates the hint after): listing wins, no error
    with open(hint, "w") as f:
        f.write("1")
    assert discover_latest_metadata(t.root).endswith("v2.metadata.json")
    # hint NEWER than anything listed = the hinted file vanished: torn
    with open(hint, "w") as f:
        f.write("9")
    with pytest.raises(ValueError, match="disagreement"):
        discover_latest_metadata(t.root)


def test_metadata_log_entries_sql_facade(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog

    t = _emitting_table(spark, tmp_path, n_versions=2)
    cat = SqlCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.register("logt", t.root)
    rows = cat.sql(
        "SELECT file, latest_snapshot_id FROM logt.metadata_log_entries"
        " ORDER BY file"
    ).collect()
    assert [(r["file"], r["latest_snapshot_id"]) for r in rows] == [
        ("v1.metadata.json", 1), ("v2.metadata.json", 2),
    ]


def test_metadata_log_entries_requires_emission(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(spark.createDataFrame([(1,)], "id bigint"))
    with pytest.raises(FileNotFoundError):
        t.metadata_log_entries_table()


# -- snapshot summary counters ------------------------------------------------
def test_snapshot_summary_counters_cow_rewrite(spark, tmp_path):
    """COW DELETE rewrites a partition: the emitted summary must show the
    rewritten files as deleted-* and the replacement as added-*, with
    total-* tracking the live state."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, category string, qty bigint"
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), ddl, partition_by=["category"]
    )
    t.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)], ddl
        ).coalesce(1).sortWithinPartitions("id")
    )
    t.delete_where("id = 1")  # COW: rewrites partition a
    md = write_iceberg_metadata(t)
    with open(md) as f:
        doc = json.load(f)
    summaries = {s["snapshot-id"]: s["summary"] for s in doc["snapshots"]}
    s1, s2 = summaries[1], summaries[2]
    assert s1["added-records"] == "3" and s1["total-records"] == "3"
    assert "deleted-data-files" not in s1
    assert s2["total-records"] == "2"
    assert s2["deleted-data-files"] == "1"  # partition a's old file
    assert s2["deleted-records"] == "2"
    assert s2["added-records"] == "1"  # the rewritten partition-a file
    assert int(s2["total-files-size"]) > 0
    assert int(s2["removed-files-size"]) > 0


def test_snapshots_table_totals(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(1,), (2,)], ddl).coalesce(1))
    t.write(spark.createDataFrame([(3,)], ddl).coalesce(1))
    rows = {r["snapshot_id"]: r for r in t.snapshots_table().collect()}
    assert rows[1]["total_records"] == 2 and rows[2]["total_records"] == 3
    assert rows[2]["added_rows"] == 1
    assert rows[2]["total_data_files"] == rows[1]["total_data_files"] + 1
    assert rows[2]["total_files_size"] > rows[1]["total_files_size"]


# -- add_files import ----------------------------------------------------------
def test_add_files_zero_copy_inode(spark, tmp_path):
    """The import hard-links: same inode, zero data copied, source
    untouched; scan returns native + imported rows."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, category string, qty bigint"
    src = str(tmp_path / "ext")
    spark.createDataFrame([(10, "a", 100), (11, "b", 110)], ddl).coalesce(
        1
    ).write.partitionBy("category").parquet(src)
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), ddl, partition_by=["category"]
    )
    t.write(spark.createDataFrame([(1, "a", 10)], ddl).coalesce(1))
    sid = t.add_files(src)
    assert t.snapshots()[-1].operation == "add-files"
    got = sorted(tuple(r) for r in t.scan().collect())
    assert got == [(1, "a", 10), (10, "a", 100), (11, "b", 110)]
    # inode equality: every imported manifest entry IS a source file
    src_inodes = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    }
    imp = [f for f in t.snapshots()[-1].files]
    assert imp and all(
        os.stat(os.path.join(t.root, f["path"])).st_ino in src_inodes for f in imp
    )
    assert sid == 2


def test_add_files_rejects_schema_mismatch(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    src = str(tmp_path / "ext")
    spark.createDataFrame(
        [(1, "x")], "id bigint, wrong string"
    ).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint, v string")
    with pytest.raises(ValueError, match="does not match table columns"):
        t.add_files(src)
    assert t.snapshots() == []  # nothing committed, stage cleaned

    # type mismatch under the right names is also rejected
    src2 = str(tmp_path / "ext2")
    spark.createDataFrame([(1, 2)], "id bigint, v bigint").coalesce(
        1
    ).write.parquet(src2)
    with pytest.raises(ValueError, match="mismatch"):
        t.add_files(src2)


def test_add_files_rejects_layout_mismatch(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, category string"
    src = str(tmp_path / "ext")
    # unpartitioned source into a partitioned table
    spark.createDataFrame([(1, "a")], ddl).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), ddl, partition_by=["category"]
    )
    with pytest.raises(ValueError, match="partition"):
        t.add_files(src)


def test_add_files_rejects_transform_spec(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), ddl, partition_by=["bucket(4, id)"]
    )
    with pytest.raises(ValueError, match="identity"):
        t.add_files(str(tmp_path / "whatever"))


def test_add_files_then_dml_and_time_travel(spark, tmp_path):
    """Imported files participate in every later verb: COW delete
    rewrites them, time travel sees the pre-import state, expire after
    compaction unlinks the table's link without touching the source."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    src = str(tmp_path / "ext")
    spark.createDataFrame(
        [(i, "ext") for i in range(4)], ddl
    ).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(100, "nat")], ddl).coalesce(1))
    t.add_files(src)
    t.delete_where("id = 2")
    got = sorted(r.id for r in t.scan().collect())
    assert got == [0, 1, 3, 100]
    assert sorted(r.id for r in t.scan_at(1).collect()) == [100]
    assert sorted(r.id for r in t.scan_at(2).collect()) == [0, 1, 2, 3, 100]
    t.compact()
    t.expire_snapshots(keep_last=1)
    # the original external files are intact after the table dropped its links
    ext = spark.read.parquet(src)
    assert sorted(r.id for r in ext.collect()) == [0, 1, 2, 3]
    assert sorted(r.id for r in t.scan().collect()) == [0, 1, 3, 100]


def test_call_system_add_files(spark, tmp_path):
    """`CALL system.add_files(table => t, source_table =>
    '`parquet`.`<dir>`')` through the SQL facade (Iceberg CALL shape)."""
    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    src = str(tmp_path / "ext")
    spark.createDataFrame([(1, "a"), (2, "b")], ddl).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(9, "n")], ddl).coalesce(1))
    cat = SqlCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.register("imp", t.root)
    cat.sql(f"CALL system.add_files(table => 'imp', source_table => '`parquet`.`{src}`')")
    rows = sorted(tuple(r) for r in cat.sql("SELECT * FROM imp").collect())
    assert rows == [(1, "a"), (2, "b"), (9, "n")]
    assert t.snapshots()[-1].operation == "add-files"


def test_snapshot_summary_mor_delete_counters(spark, tmp_path):
    """v2 emission summary carries the per-flavor delete counters:
    equality-delete rows from a MOR merge and position-delete rows from
    a positional MOR delete."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), ddl,
        properties={"write.merge.mode": "merge-on-read",
                    "write.delete.mode": "merge-on-read",
                    "write.delete.style": "position"},
    )
    t.write(
        spark.createDataFrame([(i, "x") for i in range(6)], ddl)
        .coalesce(1).sortWithinPartitions("id")
    )
    src = spark.createDataFrame([("U", 1, "y"), ("D", 2, None)], "Op string, id bigint, v string")
    t.merge(src.coalesce(1), keys=["id"], op_col="Op")  # 2 equality-delete rows
    t.delete_where("id = 5")  # 1 positional delete row
    md = write_iceberg_metadata(t, format_version=2)
    with open(md) as f:
        doc = json.load(f)
    head = doc["snapshots"][-1]["summary"]
    assert int(head["total-delete-files"]) >= 2
    assert head["total-equality-deletes"] == "2"
    assert head["total-position-deletes"] == "1"
    # MOR adds delete files, never removes data files
    assert "deleted-data-files" not in head


def test_concurrent_add_files_and_appends(spark, tmp_path):
    """The 100 TB bootstrap under contention: two add_files imports race
    two native appends over the same root — every commit lands (imports
    are appends, so losers rebase), nothing is lost, snapshot ids stay
    unique, and all imported files remain hard links of their sources."""
    import threading

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    root = str(tmp_path / "t")
    SnapshotTable.create(spark, root, ddl)
    srcs = []
    for k in range(2):
        src = str(tmp_path / f"ext{k}")
        spark.createDataFrame(
            [(100 * (k + 1) + j, f"e{k}") for j in range(3)], ddl
        ).coalesce(1).write.parquet(src)
        srcs.append(src)
    errs: list = []

    def importer(k: int) -> None:
        try:
            SnapshotTable(spark, root).add_files(srcs[k])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def appender(i: int) -> None:
        try:
            SnapshotTable(spark, root).write(
                spark.createDataFrame([(i, f"n{i}")], ddl)
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=importer, args=(0,)),
        threading.Thread(target=appender, args=(1,)),
        threading.Thread(target=importer, args=(1,)),
        threading.Thread(target=appender, args=(2,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = SnapshotTable(spark, root)
    got = sorted(r.id for r in t.scan().collect())
    assert got == [1, 2, 100, 101, 102, 200, 201, 202]
    sids = [s.snapshot_id for s in t.snapshots()]
    assert len(sids) == len(set(sids)) == 4
    # imported entries still link to source inodes even if rebased to a
    # different snapshot id than first claimed
    src_inodes = {
        os.stat(os.path.join(dp, f)).st_ino
        for src in srcs
        for dp, _d, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    }
    linked = 0
    for s in t.snapshots():
        if s.operation == "add-files":
            for frec in s.files:
                assert os.stat(os.path.join(root, frec["path"])).st_ino in src_inodes
                linked += 1
    assert linked == 2


def test_stream_guard_ignores_unscoped_once_any_scope_exists(spark, tmp_path):
    """Once ANY scoped streaming snapshot exists on the table, unscoped
    batch ids belong to other writers (jobs.py append_stream_batch) and
    must never suppress a different query's batches — even one resuming
    with batchId > 0 and no scoped history of its own."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(
        spark.createDataFrame([(1,)], "id bigint"),
        summary_extra={"streaming.batch-id": 7},  # unscoped (other writer)
    )
    # a scoped commit from some OTHER query marks the table post-migration
    wA = _writer(t.root, str(tmp_path / "ckptA"))
    wA.commit([], batchId=0)
    assert len(t.snapshots()) == 2
    # a different query resuming at batch 3 with no scoped history: the
    # unscoped id 7 must NOT swallow it
    wB = _writer(t.root, str(tmp_path / "ckptB"))
    wB.commit([], batchId=3)
    snaps = t.snapshots()
    assert len(snaps) == 3
    assert snaps[-1].summary["streaming.batch-id"] == 3


def test_add_files_timestamp_flavors(spark, tmp_path):
    """Both Spark timestamp flavors import into matching columns and are
    rejected across flavors."""
    import datetime as dt

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, ts timestamp, tsn timestamp_ntz"
    src = str(tmp_path / "ext")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 1, 12))], ddl
    ).coalesce(1).write.parquet(src)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.add_files(src)  # both flavors accepted against their own columns
    assert t.scan().count() == 1

    # flavor mismatch: a TZ column offered for an NTZ table column
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t2"), "id bigint, ts timestamp_ntz, tsn timestamp_ntz"
    )
    with pytest.raises(ValueError, match="mismatch"):
        t2.add_files(src)


def test_metadata_log_survives_table_relocation(spark, tmp_path):
    """metadata-log entries store write-time absolute paths; after the
    whole table directory moves, the chain resolves by basename next to
    the discovered file (portable checkouts / moved warehouses)."""
    import shutil

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = _emitting_table(spark, tmp_path, n_versions=3)
    moved = str(tmp_path / "moved")
    shutil.move(t.root, moved)
    t2 = SnapshotTable(spark, moved)
    rows = t2.metadata_log_entries_table().orderBy("file").collect()
    assert [r["file"] for r in rows] == [
        "v1.metadata.json", "v2.metadata.json", "v3.metadata.json",
    ]
    assert [r["latest_snapshot_id"] for r in rows] == [1, 2, 3]
