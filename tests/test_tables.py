"""SnapshotTable (Iceberg-semantics stand-in) and Avro converter tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_apache_iceberg_workshop_spark.schema_utils import avro_schema_to_spark_schema
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable.create(
        spark, str(tmp_path / "t"), "id bigint, v string, part string", partition_by=["part"]
    )


def test_append_overwrite_incremental_history(spark, table):
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string, part string")  # noqa: E731
    s1 = table.write(df([(1, "a", "x"), (2, "b", "y")]))
    s2 = table.write(df([(3, "c", "x")]))
    assert (s1, s2) == (1, 2)
    assert table.scan().count() == 3
    assert {r["id"] for r in table.scan_incremental(s1, s2).collect()} == {3}
    assert table.scan_incremental(None, s2).count() == 3

    hist = table.history().orderBy(F.desc("made_current_at")).limit(1).collect()
    assert hist[0]["snapshot_id"] == 2  # O1 top-1 pattern

    s3 = table.write(df([(9, "z", "x")]), mode="overwrite")
    assert table.scan().count() == 1
    with pytest.raises(ValueError):  # Iceberg parity: appends-only incremental
        table.scan_incremental(s2, s3).count()


def test_merge_upsert_and_partition_pruning(spark, table):
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string, part string")  # noqa: E731
    table.write(df([(1, "a", "x"), (2, "b", "y")]))
    table.merge(df([(2, "B", "y"), (3, "c", "z")]), keys=["id"])
    state = {r["id"]: r["v"] for r in table.scan().collect()}
    assert state == {1: "a", 2: "B", 3: "c"}

    # partition pruning reaches the physical plan on the partition column
    plan = table.scan().filter(F.col("part") == "y")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan


def test_empty_table_scan(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "e"), "id bigint, v string")
    assert t.scan().count() == 0
    assert t.latest_snapshot_id() is None


def test_avro_converter_parity():
    # shapes from bronze-silver.py:22-57 (SURVEY.md §1.2)
    schema = avro_schema_to_spark_schema(
        {
            "fields": [
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                {"name": "d", "type": {"type": "int", "logicalType": "date"}},
                {"name": "k", "type": "long"},
                {"name": "q", "type": "int"},
                {"name": "p", "type": "double"},
                {"name": "f", "type": "float"},
                {"name": "b", "type": "boolean"},
                {"name": "s", "type": ["null", "string"]},
                {"name": "u", "type": "weird_unknown"},
            ]
        }
    )
    got = {f.name: (f.dataType, f.nullable) for f in schema.fields}
    assert got["ts"] == (T.TimestampType(), False)
    assert got["d"] == (T.DateType(), False)
    assert got["k"] == (T.LongType(), False)
    assert got["q"] == (T.IntegerType(), False)
    assert got["p"] == (T.DoubleType(), False)
    assert got["f"] == (T.FloatType(), False)
    assert got["b"] == (T.BooleanType(), False)
    assert got["s"] == (T.StringType(), True)  # [null, T] union → nullable
    assert got["u"] == (T.StringType(), False)  # unknown → string fallback


def test_time_travel_and_maintenance(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "tt_table")
    t = SnapshotTable.create(spark, root, "k long, v string")
    s1 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    s2 = t.write(spark.createDataFrame([(3, "c")], "k long, v string"))

    # time travel: state AS OF s1 excludes the second append
    assert {r.k for r in t.scan_at(s1).collect()} == {1, 2}
    assert {r.k for r in t.scan_at(s2).collect()} == {1, 2, 3}

    # compaction: same rows, new snapshot, operation recorded
    s3 = t.compact(target_partitions=1)
    assert {r.k for r in t.scan().collect()} == {1, 2, 3}
    ops = {r.snapshot_id: r.operation for r in t.history().collect()}
    assert ops[s3] == "compact"
    # pre-compaction snapshots still readable (files not yet expired)
    assert {r.k for r in t.scan_at(s1).collect()} == {1, 2}

    # expiration: only the latest survives; old reads now fail
    expired = t.expire_snapshots(keep_last=1)
    assert set(expired) == {s1, s2}
    assert {r.k for r in t.scan().collect()} == {1, 2, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.scan_at(s1)
    # expired data dirs are gone from disk
    import os as _os

    assert not _os.path.exists(_os.path.join(root, "data/s1"))


def test_schema_evolution_add_drop_and_time_travel(spark, tmp_path):
    """Iceberg-style metadata-only evolution: added columns read as NULL in
    old files, dropped columns vanish without rewrites, time travel sees
    the schema as of the snapshot, incremental reads skip the metadata-only
    commit."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, "id bigint, category string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, category string"))
    s1 = t.latest_snapshot_id()

    s_evolve = t.evolve_schema(add={"score": "double"})
    # old files project the new column as NULL
    rows = {r.id: r.score for r in t.scan().collect()}
    assert rows == {1: None, 2: None}

    # new writes carry the new column; mixed old+new scan works
    t.write(spark.createDataFrame([(3, "c", 0.5)], "id bigint, category string, score double"))
    s2 = t.latest_snapshot_id()
    rows = {r.id: r.score for r in t.scan().collect()}
    assert rows == {1: None, 2: None, 3: 0.5}

    # incremental read across the evolve commit: only the appended rows
    inc = t.scan_incremental(s1, s2)
    assert [r.id for r in inc.collect()] == [3]

    # time travel: snapshot before the evolve has the ORIGINAL schema
    assert "score" not in t.scan_at(s1).columns
    assert "score" in t.scan_at(s2).columns

    # drop: metadata-only, column gone from scans, data untouched
    t.evolve_schema(drop=["category"])
    assert t.scan().columns == ["id", "score"]
    assert t.scan().count() == 3

    # guard rails
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.evolve_schema(add={"id": "bigint"})
    with _pytest.raises(ValueError):
        t.evolve_schema(drop=["nope"])
    assert s_evolve > s1


# -- merge execution modes (round-3: partition-scoped COW + real MOR) -------


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v string, part string")


def test_cow_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """COW merge on a partitioned table rewrites ONLY the partitions the
    batch touches; untouched partitions' files are not rewritten (their
    dirs stay byte-identical) and are masked per-partition in metadata."""
    import os

    root = str(tmp_path / "t")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string", partition_by=["part"]
    )
    t.write(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    s1_listing = {
        d: sorted(os.listdir(os.path.join(root, "data/s1", d)))
        for d in os.listdir(os.path.join(root, "data/s1"))
        if d.startswith("part=")
    }
    sid = t.merge(_df(spark, [(2, "B", "y")]), keys=["id"])

    new_parts = {
        d for d in os.listdir(os.path.join(root, f"data/s{sid}")) if d.startswith("part=")
    }
    assert new_parts == {"part=y"}  # only the touched partition was written
    # untouched partition files not rewritten
    assert {
        d: sorted(os.listdir(os.path.join(root, "data/s1", d)))
        for d in os.listdir(os.path.join(root, "data/s1"))
        if d.startswith("part=")
    } == s1_listing
    # metadata masks part=y out of the old dir
    last = t.snapshots()[-1]
    masked = [e for e in last.active_dirs if not isinstance(e, str)]
    assert masked and masked[0]["exclude"] == [{"part": "y"}]
    # state is the full-merge answer
    assert {r.id: r.v for r in t.scan().collect()} == {1: "a", 2: "B", 3: "c"}


def test_cow_merge_handles_partition_moving_update(spark, tmp_path):
    """An update that MOVES a row to a new partition rewrites both the old
    and new partitions — no stale copy survives in the moved-from one."""
    root = str(tmp_path / "t")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string", partition_by=["part"]
    )
    t.write(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    t.merge(_df(spark, [(2, "B", "z")]), keys=["id"])
    rows = {(r.id, r.v, r.part) for r in t.scan().collect()}
    assert rows == {(1, "a", "x"), (2, "B", "z")}


def test_mor_merge_cost_scales_with_batch_not_table(spark, tmp_path):
    """merge-on-read: a merge writes ONLY the batch's rows + a key-delete
    file; no existing data file is rewritten. Scans fold the deletes;
    compact() materializes them away."""
    import os

    root = str(tmp_path / "t")
    t = SnapshotTable.create(
        spark,
        root,
        "id bigint, v string, part string",
        partition_by=["part"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.write(_df(spark, [(i, f"v{i}", "x" if i % 2 else "y") for i in range(1, 101)]))

    src = spark.createDataFrame(
        [("U", 2, "UPD", "y"), ("I", 200, "new", "z"), ("D", 3, None, "x")],
        "Op string, id bigint, v string, part string",
    )
    sid = t.merge(src, keys=["id"], op_col="Op")

    # the merge snapshot's data dir holds exactly the 2 upserted rows
    assert spark.read.parquet(os.path.join(root, f"data/s{sid}")).count() == 2
    # and an equality-delete file with the 3 batch keys
    dels = spark.read.parquet(os.path.join(root, f"deletes/s{sid}"))
    assert {r.id for r in dels.collect()} == {2, 3, 200}
    # table-state semantics match COW latest-wins + delete
    state = {r.id: r.v for r in t.scan().collect()}
    assert state[2] == "UPD" and state[200] == "new" and 3 not in state
    assert len(state) == 100  # 100 - 1 delete + 1 insert

    # a second merge superseding the first's upsert
    t.merge(
        spark.createDataFrame([("U", 2, "UPD2", "y")], "Op string, id bigint, v string, part string"),
        keys=["id"],
        op_col="Op",
    )
    assert {r.v for r in t.scan().filter(F.col("id") == 2).collect()} == {"UPD2"}

    # time travel: pre-merge snapshot unaffected by later delete files
    assert {r.v for r in t.scan_at(1).filter(F.col("id") == 2).collect()} == {"v2"}

    # compact folds deletes into data: same state, no active delete files
    t.compact(target_partitions=2)
    assert t.snapshots()[-1].active_deletes == []
    state2 = {r.id: r.v for r in t.scan().collect()}
    assert state2 == {**state, 2: "UPD2"}

    # expire: delete files of dropped snapshots are removed from disk
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(root, f"deletes/s{sid}"))


def test_metadata_tables_snapshots_files_history(spark, tmp_path):
    """.snapshots/.files/.history analogues: manifest-backed, active-set
    files honor partition masks and include MOR delete files."""
    root = str(tmp_path / "t")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string", partition_by=["part"]
    )
    t.write(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    t.merge(_df(spark, [(2, "B", "y")]), keys=["id"])  # COW: masks part=y in s1

    # history: timestamp-typed, one row per snapshot
    hist = t.history()
    assert isinstance(hist.schema["made_current_at"].dataType, T.TimestampType)
    assert hist.count() == 2

    # snapshots: parent chain + manifest row totals
    st = {r.snapshot_id: r for r in t.snapshots_table().collect()}
    assert st[1].parent_id is None and st[2].parent_id == 1
    assert st[1].added_rows == 3 and st[2].added_rows == 1
    assert isinstance(t.snapshots_table().schema["committed_at"].dataType, T.TimestampType)

    # files: s1's part=y files are masked out, s2 contributes the rewrite
    ft = [(r.snapshot_id, r.partition, r.content) for r in t.files_table().collect()]
    assert (1, "part=y", 0) not in ft
    assert {(1, "part=x", 0), (1, "part=z", 0), (2, "part=y", 0)} <= set(ft)
    # all_files still lists the superseded s1 part=y file
    af = {(r.snapshot_id, r.part) for r in t.all_files_table().collect()}
    assert (1, "part=y") in af

    # MOR table: equality-delete file surfaces as content=2
    root2 = str(tmp_path / "t2")
    m = SnapshotTable.create(
        spark, root2, "id bigint, v string, part string",
        partition_by=["part"], properties={"write.merge.mode": "merge-on-read"},
    )
    m.write(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    m.merge(_df(spark, [(2, "B", "y")]), keys=["id"])
    contents = {r.content for r in m.files_table().collect()}
    assert contents == {0, 2}
    del_rows = [r for r in m.files_table().collect() if r.content == 2]
    assert sum(r.record_count for r in del_rows) == 1  # one merge key


def test_export_snapshot_vanilla_duckdb_roundtrip(spark, tmp_path):
    """S17-spirit interop: the export of a MOR table (delete files applied)
    is readable by VANILLA duckdb.read_parquet via the generated view, with
    no _meta.json knowledge, and matches scan() exactly."""
    import os

    import duckdb

    from tools.export_snapshot import export_snapshot

    root = str(tmp_path / "t")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string",
        partition_by=["part"], properties={"write.merge.mode": "merge-on-read"},
    )
    t.write(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    t.merge(
        _df(spark, [(2, "B", "y"), (4, "d", "x")]).withColumn("Op", F.lit("U")),
        keys=["id"], op_col="Op",
    )

    out = str(tmp_path / "export")
    manifest = export_snapshot(t, out, view_name="silver")
    assert manifest["snapshot_id"] == t.latest_snapshot_id()

    con = duckdb.connect()
    with open(os.path.join(out, "view.sql")) as f:
        con.execute(f.read())
    got = con.execute("SELECT id, v, part FROM silver ORDER BY id").fetchall()
    want = [tuple(r) for r in t.scan().select("id", "v", "part").orderBy("id").collect()]
    assert got == want == [(1, "a", "x"), (2, "B", "y"), (3, "c", "z"), (4, "d", "x")]
    # partition-column type survives the hive-partitioning round trip
    assert con.execute("SELECT typeof(part) FROM silver LIMIT 1").fetchone()[0] == "VARCHAR"
    assert con.execute("SELECT typeof(id) FROM silver LIMIT 1").fetchone()[0] == "BIGINT"


def test_remove_orphan_files(spark, tmp_path):
    """Dirs no snapshot references (crashed-write leftovers) are removed;
    every referenced dir survives and the table state is untouched."""
    import os

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "orphan_table")
    t = SnapshotTable.create(spark, root, "k long, v string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.write(spark.createDataFrame([(3, "c")], "k long, v string"))

    # simulate a crashed write: files landed, metadata swap never happened
    orphan = os.path.join(root, "data", "s99")
    spark.createDataFrame([(9, "x")], "k long, v string").write.parquet(orphan)
    stray_delete = os.path.join(root, "deletes", "s98")
    spark.createDataFrame([(9,)], "k long").write.parquet(stray_delete)

    # a FRESH unreferenced dir could be an in-flight writer's staging —
    # the default age guard keeps it
    assert t.remove_orphan_files() == []
    removed = t.remove_orphan_files(older_than_s=0.0)
    assert sorted(removed) == ["data/s99", "deletes/s98"]
    assert not os.path.exists(orphan) and not os.path.exists(stray_delete)
    # live dirs and table state untouched
    assert {r.k for r in t.scan().collect()} == {1, 2, 3}
    assert t.remove_orphan_files(older_than_s=0.0) == []


def test_manifest_pruning_after_sorted_compaction(spark, tmp_path):
    """Range-clustered compaction tightens per-file bounds so manifest-only
    planning skips files; results stay identical to a full scan+filter."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "pruned_table")
    t = SnapshotTable.create(spark, root, "k long, v string")
    # two appends with fully OVERLAPPING k ranges: every file spans ~[0,99]
    rows = [(i, f"r{i}") for i in range(0, 100, 2)]
    t.write(spark.createDataFrame(rows, "k long, v string").repartition(4))
    rows2 = [(i, f"r{i}") for i in range(1, 100, 2)]
    t.write(spark.createDataFrame(rows2, "k long, v string").repartition(4))

    kept_before, total_before = t.plan_files("k", 10, 15)
    assert len(kept_before) == total_before  # overlapping ranges: no skip

    t.compact(target_partitions=4, sort_by=["k"])
    kept, total = t.plan_files("k", 10, 15)
    assert total >= 4 and len(kept) < total  # clustered: files skipped

    got = sorted(r.k for r in t.scan_pruned("k", 10, 15).filter("k BETWEEN 10 AND 15").collect())
    want = sorted(r.k for r in t.scan().filter("k BETWEEN 10 AND 15").collect())
    assert got == want == [10, 11, 12, 13, 14, 15]


def test_changes_changelog(spark, tmp_path):
    """Changelog: appends are inserts, MOR merge emits upsert-inserts plus
    equality deletes, compaction emits nothing, COW merges raise."""
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "chg_table")
    t = SnapshotTable.create(
        spark, root, "k long, v string",
        properties={"write.merge.mode": "merge-on-read"},
    )
    s1 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    src = spark.createDataFrame(
        [("U", 2, "b2"), ("I", 3, "c"), ("D", 1, None)],
        "Op string, k long, v string",
    )
    s2 = t.merge(src, keys=["k"], op_col="Op")
    s3 = t.compact(target_partitions=1)

    ch = t.changes(None, s3).collect()
    by = {(r.k, r._change_type, r._snapshot_id) for r in ch}
    assert by == {
        (1, "insert", s1), (2, "insert", s1),          # append
        (2, "insert", s2), (3, "insert", s2),          # merge upserts
        (1, "delete", s2),                             # merge delete (D row)
        (2, "delete", s2),                             # update pre-image
    }  # compaction contributed nothing

    # the changelog is replayable: applying deletes-then-inserts per
    # snapshot in order reproduces the current table state
    state: dict = {}
    for sid in (s1, s2):
        snap = [r for r in ch if r._snapshot_id == sid]
        for r in snap:
            if r._change_type == "delete":
                state.pop(r.k, None)
        for r in snap:
            if r._change_type == "insert":
                state[r.k] = r.v
    assert state == {r.k: r.v for r in t.scan().collect()}
    # range query composes: only the merge's changes
    assert {r._snapshot_id for r in t.changes(s1, s2).collect()} == {s2}

    # COW merges can't produce a changelog — explicit error
    t2 = SnapshotTable.create(spark, str(tmp_path / "cow_table"), "k long, v string")
    t2.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    t2.merge(spark.createDataFrame([(1, "z")], "k long, v string"), keys=["k"])
    with _pytest.raises(ValueError):
        t2.changes(None, 2).collect()


def test_entries_table_statuses(spark, tmp_path):
    """`.entries`: ADDED(1)/EXISTING(0)/DELETED(2) per manifest entry of
    the current snapshot; MOR equality-delete files appear with content=2;
    tombstones cover exactly the parent-snapshot diff."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "ent_table")
    t = SnapshotTable.create(
        spark, root, "id long, part string, v long", partition_by=["part"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    ddl = "id long, part string, v long"
    t.write(spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], ddl).coalesce(1))
    ent1 = t.entries_table().collect()
    assert {(r.status, r.snapshot_id) for r in ent1} == {(1, 1), (1, 1)} or all(
        r.status == 1 and r.snapshot_id == 1 for r in ent1
    )

    # MOR merge: upsert dir + equality-delete file both ADDED by commit 2
    src = spark.createDataFrame([("U", 1, "x", 11)], "Op string, " + ddl)
    s2 = t.merge(src, keys=["id"], op_col="Op")
    ent2 = t.entries_table().collect()
    data = {(r.status, r.snapshot_id) for r in ent2 if r.content == 0}
    dels = {(r.status, r.snapshot_id) for r in ent2 if r.content == 2}
    assert (1, s2) in data and (0, 1) in data  # new upsert dir + carried s1 files
    assert dels == {(1, s2)}

    # partition-scoped COW rewrite (update x): old x file tombstoned
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "ent_cow"), ddl, partition_by=["part"]
    )
    t2.write(spark.createDataFrame([(1, "x", 10), (2, "y", 20)], ddl).coalesce(1))
    s2b = t2.update_where("id = 1", {"v": "v + 1"})
    ent = {(r.status, r.snapshot_id, r.partition) for r in t2.entries_table().collect()}
    assert ent == {
        (0, 1, "part=y"),      # y carried forward
        (1, s2b, "part=x"),    # rewritten x ADDED
        (2, s2b, "part=x"),    # old x tombstoned by this commit
    }


def test_changes_full_preimages_enable_incremental_aggregation(spark, tmp_path):
    """`full_preimages=True` recovers COMPLETE pre-image rows for equality
    deletes (default emits key-cols-only), including EVERY duplicate row
    the delete kills — which is what lets a downstream consumer retract
    old values from an incrementally maintained aggregate."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "pre_table")
    t = SnapshotTable.create(
        spark, root, "k long, v long",
        properties={"write.merge.mode": "merge-on-read"},
    )
    # duplicate key 1: an equality delete kills BOTH rows
    s1 = t.write(spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k long, v long"))
    src = spark.createDataFrame(
        [("U", 1, 12), ("D", 2, None), ("D", 9, None)], "Op string, k long, v long"
    )
    s2 = t.merge(src, keys=["k"], op_col="Op")

    # default: key-only pre-images, one per killed KEY, non-key cols NULL
    key_only = [
        (r.k, r.v) for r in t.changes(s1, s2).collect() if r._change_type == "delete"
    ]
    assert sorted(key_only) == [(1, None), (2, None)]  # k=9 never existed

    # full: every prior ROW for each killed key, with its real values
    full = [
        (r.k, r.v)
        for r in t.changes(s1, s2, full_preimages=True).collect()
        if r._change_type == "delete"
    ]
    assert sorted(full) == [(1, 10), (1, 11), (2, 20)]

    # the point of full pre-images: incremental fold == full recompute
    agg = 10 + 11 + 20  # sum(v) at s1
    for r in t.changes(s1, s2, full_preimages=True).collect():
        agg += -r.v if r._change_type == "delete" else r.v
    assert agg == sum(r.v for r in t.scan().collect())


def test_tags_protect_snapshots_and_resolve_in_time_travel(spark, tmp_path):
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "tag_table")
    t = SnapshotTable.create(spark, root, "k long, v string")
    s1 = t.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    s2 = t.write(spark.createDataFrame([(2, "b")], "k long, v string"))
    s3 = t.write(spark.createDataFrame([(3, "c")], "k long, v string"))

    t.create_tag("audit", s1)
    assert t.tags() == {"audit": s1}
    assert {r.k for r in t.scan_at("audit").collect()} == {1}
    with _pytest.raises(ValueError):
        t.create_tag("audit", s2)  # tags are immutable
    with _pytest.raises(ValueError):
        t.scan_at("nope")

    # expiration keeps the tagged snapshot alive (Iceberg ref retention)
    expired = t.expire_snapshots(keep_last=1)
    assert set(expired) == {s2}
    assert {r.k for r in t.scan_at("audit").collect()} == {1}
    assert {r.k for r in t.scan_at(s3).collect()} == {1, 2, 3}


def test_incremental_and_changes_raise_over_expired_ranges(spark, tmp_path):
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "exp_range_table")
    t = SnapshotTable.create(spark, root, "k long, v string")
    s1 = t.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.write(spark.createDataFrame([(2, "b")], "k long, v string"))
    s3 = t.write(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.create_tag("first", s1)
    t.expire_snapshots(keep_last=1)  # drops s2 (s1 is tag-protected)

    with _pytest.raises(ValueError, match="expired"):
        t.scan_incremental(s1, s3).collect()
    with _pytest.raises(ValueError, match="expired"):
        t.changes(s1, s3)
    # un-expired subranges still work
    assert {r.k for r in t.scan_incremental(None, s1).collect()} == {1}


def test_write_distribution_mode_hash_limits_files_per_partition(spark, tmp_path):
    """distribution-mode=hash clusters rows by partition key pre-write:
    each partition dir gets O(1) files instead of one per write task."""
    import os

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    rows = [(i, ["a", "b", "c"][i % 3], i) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, category string, qty long").repartition(8)

    def files_per_part(root):
        out = {}
        base = os.path.join(root, "data", "s1")
        for part in os.listdir(base):
            d = os.path.join(base, part)
            if os.path.isdir(d):
                out[part] = len([f for f in os.listdir(d) if f.endswith(".parquet")])
        return out

    r_none = str(tmp_path / "t_none")
    t = SnapshotTable.create(spark, r_none, "id long, category string, qty long",
                             partition_by=["category"])
    t.write(df)
    r_hash = str(tmp_path / "t_hash")
    th = SnapshotTable.create(spark, r_hash, "id long, category string, qty long",
                              partition_by=["category"],
                              properties={"write.distribution-mode": "hash"})
    th.write(df)

    none_files = files_per_part(r_none)
    hash_files = files_per_part(r_hash)
    # unclustered: every task holds every category -> ~8 files per dir
    assert max(none_files.values()) >= 4
    # clustered: each category concentrated in 1-2 tasks
    assert max(hash_files.values()) <= 2, hash_files
    # same logical content
    assert t.scan().count() == th.scan().count() == 300


def test_partitions_table(spark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "parts_table")
    t = SnapshotTable.create(spark, root, "id long, category string",
                             partition_by=["category"],
                             properties={"write.distribution-mode": "hash"})
    t.write(spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(10)], "id long, category string"))
    t.write(spark.createDataFrame([(99, "c")], "id long, category string"))
    rows = {r.part: (r.file_count, r.record_count) for r in t.partitions_table().collect()}
    assert rows["category=a"][1] == 5
    assert rows["category=b"][1] == 5
    assert rows["category=c"][1] == 1
    assert all(fc >= 1 for fc, _ in rows.values())


def test_refs_table_lists_main_and_tags(spark, tmp_path):
    """`.refs` metadata table: the main branch tracks the current
    snapshot; every tag is listed with its pinned snapshot."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "refs_t"), "k long, v string")
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.write(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.create_tag("v1", 1)
    rows = {(r.ref_name, r.ref_type, r.snapshot_id) for r in t.refs_table().collect()}
    assert rows == {("main", "branch", 2), ("v1", "tag", 1)}
    t.write(spark.createDataFrame([(3, "c")], "k long, v string"))
    rows = {(r.ref_name, r.ref_type, r.snapshot_id) for r in t.refs_table().collect()}
    assert rows == {("main", "branch", 3), ("v1", "tag", 1)}  # main advanced


def test_delete_where_cow_partition_scoped(spark, tmp_path):
    """COW row-level DELETE rewrites only the partitions containing
    matching rows; NULL-predicate rows survive (SQL semantics); untouched
    partitions' files stay byte-identical on disk."""
    import os

    root = str(tmp_path / "del_cow")
    t = SnapshotTable.create(
        spark, root, "id bigint, qty bigint, part string", partition_by=["part"]
    )
    t.write(spark.createDataFrame(
        [(1, 10, "x"), (2, None, "x"), (3, 30, "y"), (4, 40, "z")],
        "id bigint, qty bigint, part string",
    ))
    z_listing = sorted(os.listdir(os.path.join(root, "data/s1", "part=z")))
    sid = t.delete_where("qty < 35")  # matches 1 (x) and 3 (y); NULL qty survives
    assert sid == 2
    state = {r.id: r.part for r in t.scan().collect()}
    assert state == {2: "x", 4: "z"}
    # partition z untouched: same files, no rewrite
    assert sorted(os.listdir(os.path.join(root, "data/s1", "part=z"))) == z_listing
    ops = {r.snapshot_id: r.operation for r in t.history().collect()}
    assert ops[sid] == "delete"
    # no-match delete: metadata-only commit, state unchanged
    sid2 = t.delete_where("qty > 1000")
    assert {r.id for r in t.scan().collect()} == {2, 4}
    assert {r.snapshot_id for r in t.history().collect()} >= {sid, sid2}


def test_delete_where_mor_equality_deletes(spark, tmp_path):
    """MOR row-level DELETE writes an O(matching) equality-delete file —
    no rewrite; scan applies it; compact() folds it; the changelog emits
    pre-image deletes for the removed keys."""
    root = str(tmp_path / "del_mor")
    t = SnapshotTable.create(
        spark, root, "id bigint, qty bigint",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.write(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id bigint, qty bigint"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keys"):
        t.delete_where("qty >= 20")
    sid = t.delete_where("qty >= 20", keys=["id"])
    assert {r.id for r in t.scan().collect()} == {1}
    ch = t.changes(sid - 1, sid).collect()
    assert {(r.id, r._change_type) for r in ch} == {(2, "delete"), (3, "delete")}
    t.compact(target_partitions=1)
    assert {r.id for r in t.scan().collect()} == {1}
    # post-compaction the table is Iceberg-v1-representable again
    from emr_apache_iceberg_workshop_spark.iceberg_meta import write_iceberg_metadata

    assert write_iceberg_metadata(t)


def test_update_where_partition_scoped(spark, tmp_path):
    """COW row-level UPDATE: assignments apply to matching rows only,
    expressions see the row (qty = qty * 2), untouched partitions keep
    their files."""
    import os

    root = str(tmp_path / "upd")
    t = SnapshotTable.create(
        spark, root, "id bigint, qty bigint, part string", partition_by=["part"]
    )
    t.write(spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "x"), (3, 30, "y")],
        "id bigint, qty bigint, part string",
    ))
    y_listing = sorted(os.listdir(os.path.join(root, "data/s1", "part=y")))
    sid = t.update_where("id = 1", {"qty": "qty * 2"})
    assert {(r.id, r.qty) for r in t.scan().collect()} == {(1, 20), (2, 20), (3, 30)}
    assert sorted(os.listdir(os.path.join(root, "data/s1", "part=y"))) == y_listing
    assert {r.snapshot_id: r.operation for r in t.history().collect()}[sid] == "update"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown column"):
        t.update_where("id = 1", {"nope": "1"})


def test_update_where_mor_equality_deletes(spark, tmp_path):
    """MOR row-level UPDATE (the reference's silver write.update.mode):
    executes as equality-delete of matching keys + append of transformed
    rows — O(matching), no rewrite of untouched files; changelog shows
    pre-image delete + post-image insert; compact() folds it."""
    root = str(tmp_path / "upd_mor")
    t = SnapshotTable.create(
        spark, root, "id bigint, qty bigint",
        properties={"write.update.mode": "merge-on-read"},
    )
    t.write(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id bigint, qty bigint"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keys"):
        t.update_where("qty >= 20", {"qty": "qty + 1"})
    sid = t.update_where("qty >= 20", {"qty": "qty + 1"}, keys=["id"])
    assert {(r.id, r.qty) for r in t.scan().collect()} == {(1, 10), (2, 21), (3, 31)}
    ch = t.changes(sid - 1, sid).collect()
    assert {(r.id, r._change_type) for r in ch} == {
        (2, "delete"), (3, "delete"), (2, "insert"), (3, "insert")
    }
    t.compact(target_partitions=1)
    assert {(r.id, r.qty) for r in t.scan().collect()} == {(1, 10), (2, 21), (3, 31)}


def test_wap_branch_write_audit_publish(spark, tmp_path):
    """Write-audit-publish (Iceberg branch workflow): staged writes are
    invisible on main until fast_forward publishes them."""
    t = SnapshotTable.create(spark, str(tmp_path / "wap"), "id bigint, v string")
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string")  # noqa: E731
    t.write(df([(1, "a"), (2, "b")]))

    # WRITE: stage a batch on the audit branch (auto-created from main)
    sid = t.write(df([(3, "c")]), branch="audit")
    assert t.scan().count() == 2  # main unaffected
    assert t.scan(branch="audit").count() == 3
    assert t.scan_at("audit").count() == 3  # branch name resolves in time travel
    assert t.branches() == {"main": 1, "audit": sid}

    # AUDIT: more staged commits accumulate on the branch only
    t.write(df([(4, "d")]), branch="audit")
    assert t.scan().count() == 2
    assert t.scan(branch="audit").count() == 4

    # main history stops at the published head; branch commits are
    # not current ancestors
    anc = {r["snapshot_id"]: r["is_current_ancestor"] for r in t.history().collect()}
    assert anc == {1: True, 2: False, 3: False}

    # PUBLISH: fast-forward main to the audited head
    head = t.fast_forward("audit")
    assert t.scan().count() == 4
    assert t.branches()["main"] == head
    refs = {r["ref_name"]: r["ref_type"] for r in t.refs_table().collect()}
    assert refs == {"main": "branch", "audit": "branch"}

    # incremental over the published lineage sees the staged rows
    assert {r["id"] for r in t.scan_incremental(1, head).collect()} == {3, 4}
    t.drop_branch("audit")
    assert "audit" not in t.branches()


def test_branch_divergence_rejected_and_lineage_isolated(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "div"), "id bigint, v string")
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string")  # noqa: E731
    t.write(df([(1, "a")]))
    t.write(df([(2, "b")]), branch="exp")  # sid 2, on exp
    t.write(df([(3, "c")]))  # sid 3, on main — lineages diverge

    # main incremental must NOT leak the branch commit (ids interleave)
    assert {r["id"] for r in t.scan_incremental(1, 3).collect()} == {3}
    ch = t.changes(1, 3).collect()
    assert {r["id"] for r in ch} == {3}

    # diverged → fast_forward refuses (main head not an ancestor of exp)
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("exp")

    # branch heads survive expiration
    t.write(df([(4, "d")]))
    expired = t.expire_snapshots(keep_last=1)
    assert 2 not in expired
    assert t.scan(branch="exp").count() == 2

    with pytest.raises(ValueError, match="unknown branch"):
        t.scan(branch="nope")


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg-style spec evolution: metadata-only commit; old dirs keep
    their layout, new writes use the new spec, scans and partition-scoped
    DML stay correct across the mix."""
    import os

    root = str(tmp_path / "spec")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string", partition_by=["part"]
    )
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string, part string")  # noqa: E731
    t.write(df([(1, "a", "x"), (2, "b", "y")]))

    sid = t.evolve_partition_spec(["v"])
    t.write(df([(3, "a", "x"), (4, "c", "z")]))

    # physical layouts: s1 dir is part=..., s3 dir is v=...
    assert {d for d in os.listdir(os.path.join(root, "data/s1")) if "=" in d} == {
        "part=x",
        "part=y",
    }
    assert {d for d in os.listdir(os.path.join(root, "data/s3")) if "=" in d} == {
        "v=a",
        "v=c",
    }

    # scans union both layouts; filters on either column are correct
    assert t.scan().count() == 4
    assert {r["id"] for r in t.scan().filter("part = 'x'").collect()} == {1, 3}
    assert {r["id"] for r in t.scan().filter("v = 'a'").collect()} == {1, 3}

    # incremental across the metadata-only commit skips it cleanly
    assert {r["id"] for r in t.scan_incremental(1, 3).collect()} == {3, 4}

    # partition-scoped COW update under the NEW spec still masks rows
    # living in OLD-layout dirs (row-level predicate, not dir pruning)
    t.update_where("v = 'a'", {"id": "id + 100"})
    assert {r["id"] for r in t.scan().collect()} == {101, 2, 103, 4}

    # time travel to before the evolve sees the original state
    assert t.scan_at(sid - 1).count() == 2


def test_zorder_compaction_prunes_on_both_columns(spark, tmp_path):
    """Z-order rewrite gives tight per-file bounds on EVERY z column;
    a linear sort only helps its leading column."""
    t = SnapshotTable.create(spark, str(tmp_path / "z"), "a bigint, b bigint, v string")
    # a and b independent: a row-major grid 0..63 x 0..63
    rows = [(i, j, f"r{i}_{j}") for i in range(64) for j in range(64)]
    t.write(spark.createDataFrame(rows, "a bigint, b bigint, v string"))

    t.compact(target_partitions=16, zorder_by=["a", "b"])
    kept_a, total = t.plan_files("a", 0, 7)
    kept_b, _ = t.plan_files("b", 0, 7)
    assert total == 16
    # an 1/8 range on either axis touches ~1/8 of z-space → most of the
    # 16 files are skipped on BOTH axes (exact count depends on range
    # boundaries; require a real majority to prove 2-D clustering)
    assert len(kept_a) <= total // 2
    assert len(kept_b) <= total // 2
    # pruned scans stay correct (scan_pruned returns surviving files'
    # rows; the caller applies the row-level predicate)
    assert t.scan_pruned("a", 0, 7).filter("a BETWEEN 0 AND 7").count() == 8 * 64
    assert t.scan_pruned("b", 0, 7).filter("b BETWEEN 0 AND 7").count() == 64 * 8

    # contrast: linear sort on a prunes a but NOT b
    t.compact(target_partitions=16, sort_by=["a"])
    kept_a2, total2 = t.plan_files("a", 0, 7)
    kept_b2, _ = t.plan_files("b", 0, 7)
    assert len(kept_a2) <= 4
    assert len(kept_b2) == total2  # every file spans all of b

    with pytest.raises(ValueError):
        t.compact(zorder_by=["a"])
    with pytest.raises(ValueError):
        t.compact(sort_by=["a"], zorder_by=["a", "b"])


def test_rollback_to_snapshot(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "rb"), "id bigint, v string")
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string")  # noqa: E731
    t.write(df([(1, "a")]))
    t.write(df([(2, "b")]))
    t.write(df([(3, "c")]))
    assert t.scan().count() == 3

    t.rollback_to_snapshot(2)
    assert {r["id"] for r in t.scan().collect()} == {1, 2}
    assert t.latest_snapshot_id() == 2
    # snapshot 3 left the lineage but is still time-travelable
    assert t.scan_at(3).count() == 3
    anc = {r["snapshot_id"]: r["is_current_ancestor"] for r in t.history().collect()}
    assert anc == {1: True, 2: True, 3: False}

    # next write forks from the rollback point
    t.write(df([(4, "d")]))
    assert {r["id"] for r in t.scan().collect()} == {1, 2, 4}

    with pytest.raises(ValueError, match="not an ancestor"):
        t.rollback_to_snapshot(3)


def test_branch_write_on_empty_table_keeps_main_empty(spark, tmp_path):
    """Regression: a branch write BEFORE main's first commit must pin
    main at 'no snapshot' — implicit main would otherwise resolve to the
    branch head (found by the randomized model test)."""
    t = SnapshotTable.create(spark, str(tmp_path / "eb"), "id bigint, v string")
    t.write(spark.createDataFrame([(1, "a")], "id bigint, v string"), branch="b")
    assert t.scan().count() == 0
    assert t.latest_snapshot_id() is None
    assert t.scan(branch="b").count() == 1
    t.fast_forward("b")
    assert t.scan().count() == 1


def test_positional_deletes_mor(spark, tmp_path):
    """write.delete.style=position: the MOR delete file records
    (file_rel, pos) row identities — Iceberg v2 positional deletes, the
    flavor Spark's own MOR DELETE writes. No key columns required."""
    import os

    root = str(tmp_path / "pd")
    t = SnapshotTable.create(
        spark, root, "id bigint, v string, part string", partition_by=["part"],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
            "write.delete.style": "position",
        },
    )
    df = lambda rows: spark.createDataFrame(rows, "id bigint, v string, part string")  # noqa: E731
    t.write(df([(i, f"v{i}", "x" if i % 2 else "y") for i in range(10)]))

    # DELETE: no keys needed, predicate on any column
    s2 = t.delete_where("id < 3")
    assert {r["id"] for r in t.scan().collect()} == set(range(3, 10))
    # the delete file holds positional identities, not keys
    dels = spark.read.parquet(os.path.join(root, "deletes/s2"))
    assert set(dels.columns) == {"file_rel", "pos"}
    assert dels.count() == 3
    # no data dir was rewritten (pure MOR)
    snap = next(s for s in t.snapshots() if s.snapshot_id == s2)
    assert snap.dirs == []

    # deleting an already-deleted row is a no-op (positions bind to the
    # LIVE state at delete time)
    t.delete_where("id = 0")
    assert t.scan().count() == 7

    # UPDATE with positional style: pre-image positions + post-image rows
    t.update_where("id = 5", {"v": "'updated'"})
    state = {r["id"]: r["v"] for r in t.scan().collect()}
    assert state[5] == "updated"
    assert len(state) == 7

    # time travel sees each intermediate state
    assert t.scan_at(s2).count() == 7
    assert t.scan_at(1).count() == 10

    # changelog: positional deletes emit FULL pre-images
    ch = t.changes(1, t.latest_snapshot_id()).collect()
    pre5 = [r for r in ch if r["_change_type"] == "delete" and r["id"] == 5]
    assert pre5 and pre5[0]["v"] == "v5"  # full row, not a key-only stub
    deleted_ids = {r["id"] for r in ch if r["_change_type"] == "delete"}
    assert deleted_ids == {0, 1, 2, 5}

    # compact folds the positional deletes into plain data files
    t.compact(target_partitions=1)
    assert {r["id"]: r["v"] for r in t.scan().collect()} == state
    assert not t.snapshots()[-1].active_deletes

    # manifest pruning path also honors positional deletes
    t2_rows = t.scan_pruned("id", 0, 100)
    assert t2_rows.count() == 7


def test_scan_as_of_timestamp(spark, tmp_path):
    """`FOR TIMESTAMP AS OF`: wall-clock resolution along the current main
    lineage, accepting epoch floats, ISO strings, and datetimes; after a
    rollback the off-lineage snapshot is not a candidate."""
    import datetime as dt
    import itertools
    import os

    counter = itertools.count()
    ddl = "id bigint, v string"
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "asof"), ddl,
        clock=lambda: 1_700_000_000.0 + 60.0 * next(counter),
    )
    mk = lambda rows: spark.createDataFrame(rows, ddl).coalesce(1)  # noqa: E731
    t.write(mk([(1, "a")]))          # sid 1 @ t0
    t.write(mk([(2, "b")]))          # sid 2 @ t0+60
    t.write(mk([(3, "c")]))          # sid 3 @ t0+120

    assert t.scan_as_of(1_700_000_000.0).count() == 1
    assert t.scan_as_of(1_700_000_090.0).count() == 2   # between sid 2 and 3
    assert t.scan_as_of(1_700_009_999.0).count() == 3   # after head
    iso = dt.datetime(1970, 1, 1) + dt.timedelta(seconds=1_700_000_060)
    assert t.scan_as_of(iso).count() == 2
    assert t.scan_as_of(iso.isoformat(sep=" ")).count() == 2
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.scan_as_of(1_600_000_000.0)

    # rollback: sid 3 leaves the main lineage; a later write forks from 2
    t.rollback_to_snapshot(2)
    t.write(mk([(4, "d")]))          # sid 4 @ t0+180, parent 2
    assert t.scan_as_of(1_700_009_999.0).count() == 3   # {1,2,4}
    got = {r.id for r in t.scan_as_of(1_700_009_999.0).collect()}
    assert got == {1, 2, 4}
    # an instant in sid 3's window now resolves to sid 2 (3 is off-lineage)
    assert {r.id for r in t.scan_as_of(1_700_000_130.0).collect()} == {1, 2}


def test_maintain_partition_scoped_compaction(spark, tmp_path):
    """maintain(): only overfull partitions are rewritten; healthy
    partitions keep their exact files; a policy-clean table commits
    nothing."""
    import os

    ddl = "id bigint, category string, v string"
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "mnt"), ddl, partition_by=["category"]
    )
    mk = lambda rows: spark.createDataFrame(rows, ddl).coalesce(1)  # noqa: E731
    # category 'a' gets 3 files (3 appends), 'b' gets 1
    t.write(mk([(1, "a", "x"), (10, "b", "y")]))
    t.write(mk([(2, "a", "x")]))
    t.write(mk([(3, "a", "x")]))

    def files_by_part():
        out: dict[str, list[str]] = {}
        for _rel, f in t._live_files():
            out.setdefault(f["partition"]["category"], []).append(f["path"])
        return out

    before = files_by_part()
    assert len(before["a"]) == 3 and len(before["b"]) == 1

    sid = t.maintain(max_files_per_partition=2)
    assert sid is not None
    after = files_by_part()
    assert len(after["a"]) == 1                      # rewritten
    assert sorted(after["b"]) == sorted(before["b"])  # byte-identical files
    assert t.snapshots()[-1].operation == "maintain"
    assert t.snapshots()[-1].summary["overfull_partitions"] == 1
    assert {r.id for r in t.scan().collect()} == {1, 2, 3, 10}

    # now policy-clean: no commit
    n_snaps = len(t.snapshots())
    assert t.maintain(max_files_per_partition=2) is None
    assert len(t.snapshots()) == n_snaps


def test_maintain_hidden_partitions_and_unpartitioned(spark, tmp_path):
    import datetime as dt
    import os

    # hidden spec: days(ts)
    ddl = "id bigint, ts timestamp"
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "mh"), ddl, partition_by=["days(ts)"]
    )
    mk = lambda rows: spark.createDataFrame(rows, ddl).coalesce(1)  # noqa: E731
    for k in range(3):
        t.write(mk([(k, dt.datetime(2024, 5, 1, k))]))   # same day, 3 files
    t.write(mk([(9, dt.datetime(2024, 5, 2))]))          # other day, 1 file
    assert t.maintain(max_files_per_partition=2) is not None
    counts = {}
    for _rel, f in t._live_files():
        counts[f["partition"]["ts_day"]] = counts.get(f["partition"]["ts_day"], 0) + 1
    assert counts == {"2024-05-01": 1, "2024-05-02": 1}
    assert t.scan().count() == 4

    # unpartitioned: falls back to whole-table compact
    u = SnapshotTable.create(spark, os.path.join(str(tmp_path), "mu"), "id bigint")
    for k in range(3):
        u.write(spark.createDataFrame([(k,)], "id bigint").coalesce(1))
    assert u.maintain(max_files_per_partition=2) is not None
    assert u.snapshots()[-1].operation == "compact"
    assert u.scan().count() == 3


def test_write_sort_order_and_range_distribution(spark, tmp_path):
    """`write.sort-order` + `write.distribution-mode=range`: every written
    file covers a DISJOINT id range, so manifest pruning on id skips all
    but one file for a point lookup — without any explicit compact()."""
    import os

    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "so"), "id bigint, v string",
        properties={
            "write.sort-order": "id",
            "write.distribution-mode": "range",
            "write.range-partitions": "4",
        },
    )
    import random

    rows = [(i, f"v{i}") for i in range(2000)]
    random.Random(7).shuffle(rows)
    t.write(spark.createDataFrame(rows, "id bigint, v string").repartition(8))

    live = t._live_files()
    assert len(live) > 1
    bounds = sorted(f["bounds"]["id"] for _r, f in live)
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 < lo2  # disjoint ranges: range-clustered layout
    kept, total = t.plan_files("id", 42, 42)
    assert len(kept) == 1 and total == len(live)
    assert t.scan_pruned("id", 42, 42).filter("id = 42").count() == 1
    # rows inside each file are locally sorted (write.sort-order)
    first_rel, first = sorted(live, key=lambda rf: rf[1]["path"])[0]
    ids = [
        r.id
        for r in spark.read.parquet(os.path.join(t.root, first["path"])).collect()
    ]
    assert ids == sorted(ids)


def test_rename_column_zero_rewrite(spark, tmp_path):
    """RENAME COLUMN: metadata-only; old files answer to the new name
    through the per-snapshot name mapping — incl. chained renames, time
    travel, pruning, and post-rename writes mixing physical layouts."""
    import os

    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "rn"), "id bigint, amount bigint")
    mk = lambda rows: spark.createDataFrame(rows, t.schema()).coalesce(1)  # noqa: E731
    t.write(spark.createDataFrame([(1, 10), (2, 20)], "id bigint, amount bigint").coalesce(1))
    sid1 = t.latest_snapshot_id()
    t.rename_column("amount", "qty")
    assert t.schema().fieldNames() == ["id", "qty"]
    # old files (physical col 'amount') read under the new name
    assert {r.id: r.qty for r in t.scan().collect()} == {1: 10, 2: 20}
    # post-rename write lands with the NEW physical name; mixed dirs union
    t.write(spark.createDataFrame([(3, 30)], "id bigint, qty bigint").coalesce(1))
    assert {r.id: r.qty for r in t.scan().collect()} == {1: 10, 2: 20, 3: 30}
    # chained rename
    t.rename_column("qty", "quantity")
    got = t.scan()
    assert got.columns == ["id", "quantity"]
    assert got.filter("quantity >= 20").count() == 2
    # time travel: schema AS OF sid1 still says 'amount'
    old = t.scan_at(sid1)
    assert old.columns == ["id", "amount"]
    assert {r.id: r.amount for r in old.collect()} == {1: 10, 2: 20}
    # manifest pruning maps the predicate back to write-time names
    kept, total = t.plan_files("quantity", 30, 99)
    assert total == 2
    rows = t.scan_pruned("quantity", 30, 99).filter("quantity >= 30").collect()
    assert [r.id for r in rows] == [3]
    # DML on the renamed column touches old-layout files correctly
    t.update_where("quantity = 10", {"quantity": "quantity + 1"})
    assert {r.id: r.quantity for r in t.scan().collect()} == {1: 11, 2: 20, 3: 30}


def test_rename_column_guards(spark, tmp_path):
    import os

    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "rng"), "id bigint, category string, v bigint",
        partition_by=["category"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    ddl = "id bigint, category string, v bigint"
    t.write(spark.createDataFrame([(1, "a", 1)], ddl).coalesce(1))
    with pytest.raises(ValueError, match="partition source"):
        t.rename_column("category", "cat")
    with pytest.raises(ValueError, match="does not exist"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "id")
    # active equality-delete keyed on the column → refuse until compact
    t.merge(spark.createDataFrame([(1, "a", 2)], ddl), keys=["id"])
    with pytest.raises(ValueError, match="equality-delete"):
        t.rename_column("id", "pk")
    t.compact()
    assert t.rename_column("id", "pk")
    assert {r.pk for r in t.scan().collect()} == {1}
    # native metadata emission handles pre-rename live files through the
    # Iceberg name-mapping property: every field lists its historical
    # names so external readers resolve old-named parquet columns
    import json as _json

    from emr_apache_iceberg_workshop_spark.iceberg_meta import write_iceberg_metadata

    md = write_iceberg_metadata(t)
    with open(md) as f:
        doc = _json.load(f)
    nm = {
        e["field-id"]: sorted(e["names"])
        for e in _json.loads(doc["properties"]["schema.name-mapping.default"])
    }
    pk_id = next(f["id"] for f in doc["schema"]["fields"] if f["name"] == "pk")
    assert nm[pk_id] == ["id", "pk"]
    # post-compact the live files carry current names; emission still
    # publishes the mapping (historical names remain resolvable)
    t.compact()
    assert write_iceberg_metadata(t)


def test_cherry_pick_publishes_stale_staged_append(spark, tmp_path):
    """WAP with a moved main: fast_forward refuses the divergence, and
    cherry-pick re-applies the staged APPEND onto the new head; non-append
    staged commits, already-applied snapshots, and heads carrying newer
    MOR delete files are refused."""
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    t = SnapshotTable.create(spark, str(tmp_path / "cp"), ddl)
    t.write(spark.createDataFrame([(1, "a")], ddl))
    staged = t.write(spark.createDataFrame([(2, "b")], ddl), branch="audit")
    # main advances while audit sits unpublished
    t.write(spark.createDataFrame([(3, "c")], ddl))
    with _pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("audit")

    sid = t.cherry_pick_snapshot(staged)
    assert {(r.k, r.v) for r in t.scan().collect()} == {(1, "a"), (2, "b"), (3, "c")}
    assert t.snapshots()[-1].operation == "cherrypick"
    # time travel to the pre-pick head still excludes the staged rows
    assert {r.k for r in t.scan_at(sid - 1).collect()} == {1, 3}

    with _pytest.raises(ValueError, match="already applied"):
        t.cherry_pick_snapshot(staged)

    # non-append staged snapshot: refused
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "cp2"), ddl,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t2.write(spark.createDataFrame([(1, "a")], ddl))
    m = t2.merge(spark.createDataFrame([(1, "z")], ddl), keys=["k"])
    with _pytest.raises(ValueError, match="only append"):
        t2.cherry_pick_snapshot(m)

    # head with newer MOR deletes than the staged commit: refused
    t3 = SnapshotTable.create(
        spark, str(tmp_path / "cp3"), ddl,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t3.write(spark.createDataFrame([(1, "a")], ddl))
    staged3 = t3.write(spark.createDataFrame([(2, "b")], ddl), branch="audit")
    t3.merge(spark.createDataFrame([(1, "z")], ddl), keys=["k"])  # newer delete file
    with _pytest.raises(ValueError, match="delete files from later"):
        t3.cherry_pick_snapshot(staged3)


def test_expire_snapshots_older_than(spark, tmp_path):
    """Timestamp-based retention (Iceberg's primary expire knob): only
    snapshots made current before `older_than` are candidates, and
    `keep_last` still floors the survivors."""
    import itertools as _it

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    counter = _it.count()
    t = SnapshotTable.create(
        spark, str(tmp_path / "exp_age"), ddl,
        clock=lambda: 1_700_000_000.0 + 3600.0 * next(counter),
    )
    for i in range(4):  # commits at t0, t0+1h, t0+2h, t0+3h
        t.write(spark.createDataFrame([(i, f"v{i}")], ddl))
    # cutoff between commits 2 and 3 (t0+1.5h): snapshots 1 (t0) and
    # 2 (t0+1h) are older; 3 (t0+2h) and 4 survive the age test
    expired = t.expire_snapshots(keep_last=1, older_than=1_700_000_000.0 + 1.5 * 3600)
    assert expired == [1, 2]
    assert [s.snapshot_id for s in t.snapshots()] == [3, 4]
    assert {r.k for r in t.scan().collect()} == {0, 1, 2, 3}
    # cutoff in the future: everything but keep_last expires
    expired = t.expire_snapshots(keep_last=1, older_than=1_700_000_000.0 + 100 * 3600)
    assert expired == [3]
    assert [s.snapshot_id for s in t.snapshots()] == [4]
    assert {r.k for r in t.scan().collect()} == {0, 1, 2, 3}


def test_call_expire_snapshots_older_than_sql(spark, tmp_path):
    """The facade's Iceberg CALL shape with older_than => TIMESTAMP."""
    import itertools as _it

    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / "exp_sql")
    counter = _it.count()
    t = SnapshotTable.create(
        spark, root, "k long",
        clock=lambda: 1_700_000_000.0 + 3600.0 * next(counter),
    )
    for i in range(3):
        t.write(spark.createDataFrame([(i,)], "k long"))
    cat = SqlCatalog(spark)
    cat.register("t", root)
    # 1700000000 = 2023-11-14T22:13:20Z; cutoff at +0.5h expires only
    # snapshot 1 (t0) — snapshots 2 (+1h) and 3 (+2h) are newer
    cat.sql(
        "CALL system.expire_snapshots(table => 't', retain_last => 1, "
        "older_than => TIMESTAMP '2023-11-14 22:43:20+00:00')"
    )
    assert [s.snapshot_id for s in t.snapshots()] == [2, 3]
    # epoch-seconds form
    cat.sql(
        f"CALL system.expire_snapshots('t', 1, older_than => {1_700_000_000.0 + 100 * 3600})"
    )
    assert [s.snapshot_id for s in t.snapshots()] == [3]


def test_append_retries_past_eight_lost_races(spark, tmp_path, monkeypatch):
    """An append that loses the commit race retries until a time budget
    runs out, not for a fixed count: nine straight conflicts still land."""
    from emr_apache_iceberg_workshop_spark.tables import CommitConflict, SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "k bigint")
    real, lost = SnapshotTable._commit_write, [9]

    def flaky(self, *a, **k):
        if lost[0]:
            lost[0] -= 1
            raise CommitConflict("simulated lost race")
        return real(self, *a, **k)

    monkeypatch.setattr(SnapshotTable, "_commit_write", flaky)
    t.write(spark.createDataFrame([(1,)], "k bigint"))
    assert lost == [0] and [r.k for r in t.scan().collect()] == [1]


def test_optimistic_concurrency_two_writers(spark, tmp_path):
    """Optimistic multi-writer commits (the Glue/Iceberg locking the
    reference inherits): concurrent appends BOTH land (the loser rebases
    its already-written dir onto the fresh head), a stale metadata swap
    raises CommitConflict instead of silently dropping the other writer's
    snapshot, and DML computed against a stale state refuses."""
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import CommitConflict, SnapshotTable

    ddl = "k long, v string"
    root = str(tmp_path / "occ")
    t1 = SnapshotTable.create(spark, root, ddl)
    t1.write(spark.createDataFrame([(1, "a")], ddl))
    t2 = SnapshotTable(spark, root)

    # 1) a stale commit (loaded before another writer's commit) is refused
    stale = t1._load()
    t2.write(spark.createDataFrame([(2, "b")], ddl))
    stale["properties"]["doomed"] = "true"
    with _pytest.raises(CommitConflict, match="advanced"):
        t1._commit(stale)
    assert "doomed" not in t1.properties()
    assert {r.k for r in t1.scan().collect()} == {1, 2}

    # 2) an append that loses the PUBLISH race rebases: a competitor
    #    fully commits between the loser's load and its dir publish, so
    #    the loser's target name is taken and it republishes + recommits
    #    under the fresh snapshot id
    orig_publish = SnapshotTable._publish_dir
    injected = {"done": False}

    def racing_publish(self, stage, out, cleanup_on_conflict=False):
        if not injected["done"]:
            injected["done"] = True
            SnapshotTable(spark, root).write(
                spark.createDataFrame([(3, "c")], ddl)
            )
        return orig_publish(self, stage, out, cleanup_on_conflict)

    try:
        SnapshotTable._publish_dir = racing_publish
        t1.write(spark.createDataFrame([(4, "d")], ddl))
    finally:
        SnapshotTable._publish_dir = orig_publish
    assert {r.k for r in t1.scan().collect()} == {1, 2, 3, 4}
    sids = [s.snapshot_id for s in t1.snapshots()]
    assert sids == sorted(set(sids))  # no id reuse after the rebase

    # 3) an append that loses the METADATA race (its dir already
    #    published) renames the dir onto the fresh id and recommits:
    #    competitor here is a metadata-only commit (schema evolution)
    orig_commit = SnapshotTable._commit
    injected["done"] = False

    def racing_commit(self, meta):
        if not injected["done"]:
            injected["done"] = True
            SnapshotTable(spark, root).evolve_schema(add={"w": "bigint"})
        return orig_commit(self, meta)

    try:
        SnapshotTable._commit = racing_commit
        t1.write(
            spark.createDataFrame([(6, "f", 60)], "k long, v string, w bigint")
        )
    finally:
        SnapshotTable._commit = orig_commit
    got = {r.k: r.w for r in t1.scan().collect()}
    assert set(got) == {1, 2, 3, 4, 6} and got[6] == 60
    sids = [s.snapshot_id for s in t1.snapshots()]
    assert sids == sorted(set(sids))

    # 4) DML computed against a stale state REFUSES (no lost update)
    injected["done"] = False

    def racing_commit2(self, meta):
        if not injected["done"]:
            injected["done"] = True
            SnapshotTable(spark, root).evolve_schema(add={"z": "bigint"})
        return orig_commit(self, meta)

    try:
        SnapshotTable._commit = racing_commit2
        with _pytest.raises(CommitConflict):
            t1.delete_where("k = 1")
    finally:
        SnapshotTable._commit = orig_commit
    # the concurrent commit survived; the stale delete was not applied
    assert "z" in t1.schema().fieldNames()
    assert {r.k for r in t1.scan().collect()} == {1, 2, 3, 4, 6}
    # re-run against the fresh state: applies cleanly
    t1.delete_where("k = 1")
    assert {r.k for r in t1.scan().collect()} == {2, 3, 4, 6}


def test_concurrent_appends_threaded(spark, tmp_path):
    """True thread-level concurrency: N writers over the same root all
    commit, nothing is lost, snapshot ids are unique."""
    import threading

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    root = str(tmp_path / "occ_threads")
    SnapshotTable.create(spark, root, ddl)
    errs: list = []

    def writer(i: int) -> None:
        try:
            SnapshotTable(spark, root).write(
                spark.createDataFrame([(i, f"w{i}")], ddl)
            )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = SnapshotTable(spark, root)
    assert {r.k for r in t.scan().collect()} == {0, 1, 2, 3}
    sids = [s.snapshot_id for s in t.snapshots()]
    assert len(sids) == len(set(sids)) == 4


def test_expire_relocates_manifests_of_referenced_dirs(spark, tmp_path):
    """Expiring a snapshot whose data dirs are STILL referenced by kept
    snapshots must not lose their manifests: .files/.entries, manifest
    pruning, and native metadata emission keep answering (this used to
    KeyError — found by the state-machine fuzz)."""
    import json

    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        read_data_files,
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    t = SnapshotTable.create(spark, str(tmp_path / "reloc"), ddl)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ddl).coalesce(1))
    t.write(spark.createDataFrame([(3, "c")], ddl).coalesce(1))
    # keep only the head; its active_dirs still reference data/s1
    assert t.expire_snapshots(keep_last=1) == [1]
    meta = t._load()
    assert "data/s1" in meta["dir_manifests"]
    # manifest-backed reads keep working and stay consistent
    files = {r.file_path for r in t.files_table().collect()}
    assert len(files) == 2 and any("data/s1/" in p for p in files)
    ent = {r.file_path for r in t.entries_table().collect() if r.status != 2}
    assert ent == files
    kept, total = t.plan_files("id", 1, 1)
    assert total == 2 and len(kept) == 1  # bounds survived relocation
    # native emission still lists both dirs' files
    md = write_iceberg_metadata(t)
    assert sum(f["record_count"] for f in read_data_files(md)) == 3
    with open(md) as f:
        assert json.load(f)["format-version"] == 1
    # a later COW rewrite drops the dir for real → stub pruned
    t.write(spark.createDataFrame([(9, "z")], ddl), mode="overwrite")
    t.expire_snapshots(keep_last=1)
    assert "dir_manifests" not in t._load()
    assert {r.k if hasattr(r, "k") else r.id for r in t.scan().collect()} == {9}


def test_append_recovers_from_stale_orphan_dir(spark, tmp_path):
    """A crashed writer's published-but-uncommitted dir (older than the
    staleness bound) is removed by the next append claiming that
    snapshot id — the crash-recovery path of the commit protocol."""
    import os as _os
    import time as _time

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    root = str(tmp_path / "orph")
    t = SnapshotTable.create(spark, root, ddl)
    t.write(spark.createDataFrame([(1, "a")], ddl))
    # crashed writer: data/s2 exists, metadata never advanced
    orphan = _os.path.join(root, "data", "s2")
    spark.createDataFrame([(99, "ghost")], ddl).write.parquet(orphan)
    old = _time.time() - 120  # past the 60s staleness bound
    _os.utime(orphan, (old, old))
    sid = t.write(spark.createDataFrame([(2, "b")], ddl))
    assert sid == 2
    assert {r.k: r.v for r in t.scan().collect()} == {1: "a", 2: "b"}  # no ghost


def test_concurrent_appends_and_merge_consistent(spark, tmp_path):
    """Appends racing a MOR merge: every append lands (rebase retry),
    the merge either commits or refuses with CommitConflict — never a
    lost update, never a corrupt state. Final state check: all appended
    keys present; if the merge committed, its upsert applied."""
    import threading

    from emr_apache_iceberg_workshop_spark.tables import CommitConflict, SnapshotTable

    ddl = "k long, v string"
    root = str(tmp_path / "occ_mix")
    t0 = SnapshotTable.create(
        spark, root, ddl, properties={"write.merge.mode": "merge-on-read"},
    )
    t0.write(spark.createDataFrame([(0, "base")], ddl))
    merge_result: dict = {}
    errs: list = []

    def appender(i: int) -> None:
        try:
            SnapshotTable(spark, root).write(
                spark.createDataFrame([(100 + i, f"a{i}")], ddl)
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def merger() -> None:
        try:
            merge_result["sid"] = SnapshotTable(spark, root).merge(
                spark.createDataFrame([(0, "merged")], ddl), keys=["k"]
            )
        except CommitConflict:
            merge_result["conflict"] = True
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    threads.append(threading.Thread(target=merger))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = SnapshotTable(spark, root)
    got = {r.k: r.v for r in t.scan().collect()}
    assert {100, 101, 102} <= set(got)  # no append lost
    if "sid" in merge_result:
        assert got[0] == "merged"
    else:
        assert merge_result.get("conflict") and got[0] == "base"
    sids = [s.snapshot_id for s in t.snapshots()]
    assert len(sids) == len(set(sids))


def test_cherry_pick_refuses_published_ancestor(spark, tmp_path):
    """Cherry-picking a snapshot already in main's history is refused
    (Iceberg semantics): re-adding its dirs would RESURRECT rows a later
    COW DML removed from the active set."""
    import pytest as _pytest

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    t = SnapshotTable.create(spark, str(tmp_path / "anc"), ddl)
    first = t.write(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    t.write(spark.createDataFrame([(3, "c")], ddl))
    # COW delete rewrites the state without delete files — the old
    # newer-deletes guard cannot see it
    t.delete_where("k <= 2")
    assert {r.k for r in t.scan().collect()} == {3}
    with _pytest.raises(ValueError, match="ancestor of the current main"):
        t.cherry_pick_snapshot(first)
    assert {r.k for r in t.scan().collect()} == {3}  # nothing resurrected


def test_vacuum_one_call_table_service(spark, tmp_path):
    """vacuum(): maintain (policy compaction) → expire (protected refs
    kept) → orphan sweep, one call, report dict."""
    import os as _os

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id long, part string, v long"
    t = SnapshotTable.create(
        spark, str(tmp_path / "vac"), ddl, partition_by=["part"]
    )
    # 5 small appends into one partition → overfull under the policy
    for i in range(5):
        t.write(spark.createDataFrame([(i, "x", i * 10)], ddl).coalesce(1))
    # plant an orphan dir (crashed write that never committed)
    orphan = _os.path.join(t.root, "data", "s99")
    _os.makedirs(orphan)
    open(_os.path.join(orphan, "junk.parquet"), "wb").close()

    rep = t.vacuum(max_files_per_partition=2, keep_last=1, orphan_older_than_s=0.0)
    assert rep["compacted_snapshot_id"] is not None
    assert rep["expired_snapshot_ids"]  # old appends expired
    assert "data/s99" in rep["removed_orphan_dirs"]
    assert {r.id for r in t.scan().collect()} == {0, 1, 2, 3, 4}
    # policy satisfied: x partition is back under the threshold
    live = t._live_files()
    assert len([1 for _rel, f in live if f["partition"].get("part") == "x"]) <= 2

    # idempotent: a second run has nothing to do
    rep2 = t.vacuum(max_files_per_partition=2, keep_last=1)
    assert rep2["compacted_snapshot_id"] is None
    assert rep2["removed_orphan_dirs"] == []


def test_metadata_tables_on_branch_only_table(spark, tmp_path):
    """A table whose ONLY commits are branch-staged (WAP before the first
    main publish) has an empty main view: every current-snapshot metadata
    table must return empty, not crash on the None main head. Found by
    the table-model fuzz (seed 3) once add/drop-column ops were mixed in."""
    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    t = SnapshotTable.create(spark, str(tmp_path / "waponly"), schema)
    t.write(spark.createDataFrame([(1,)], schema), branch="b")
    assert t.scan().count() == 0  # main is empty
    assert t.files_table().count() == 0
    assert t.entries_table().count() == 0
    assert t.partitions_table().count() == 0
    assert t.maintain() is None or isinstance(t.maintain(), int)
    # the branch itself is readable and the refs table reports it
    assert t.scan(branch="b").count() == 1
    refs = {r.ref_name: r.ref_type for r in t.refs_table().collect()}
    assert refs.get("b") == "branch"


def test_expire_preserves_schema_and_rename_history(spark, tmp_path):
    """expire_snapshots must never drop evolve-schema commits: their
    summaries carry the rename records and prev_schema that still-live
    dirs depend on — expiring one used to silently null-fill a renamed
    column on every pre-rename file. Found by the table-model fuzz
    (seed 71) once rename ops interleaved with expire_age."""
    import time as _time

    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = SnapshotTable.create(spark, str(tmp_path / "expren"), schema)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema), mode="append")
    t.rename_column("v", "vv")
    t.evolve_schema(add={"extra": "bigint"})
    for i in range(4):  # pile on commits so expire has candidates
        t.write(spark.createDataFrame([(10 + i, "x", None)], t.schema()), mode="append")
    expired = t.expire_snapshots(keep_last=2, older_than=_time.time() + 1)
    assert expired  # something actually expired
    meta = t._load()
    kept_ops = [s["operation"] for s in meta["snapshots"]]
    assert kept_ops.count("evolve-schema") == 2  # rename + add both survive
    rows = sorted(map(tuple, t.scan().collect()))
    # the renamed column still reads its pre-rename files' values
    assert rows[:2] == [(1, "a", None), (2, "b", None)]
    # and the dsv2 reader agrees
    from emr_apache_iceberg_workshop_spark.sources import dsv2

    dsv2.register(spark)
    fmt = sorted(
        map(tuple, spark.read.format("eiws").option("table", t.root).load().collect())
    )
    assert fmt == rows


def test_branch_reads_use_current_table_schema(spark, tmp_path):
    """Iceberg's branch/tag schema rule: a BRANCH read uses the table's
    CURRENT schema (branches are writable; writes validate against the
    current schema, so reads must round-trip), while VERSION AS OF a
    branch name — scan_at — keeps the snapshot schema. Found by the
    table-model fuzz (seed 8080) once add/drop ops landed between the
    fork and a branch write."""
    from emr_apache_iceberg_workshop_spark.sources import dsv2
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, e2 bigint"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(1, 11), (2, 22)], ddl))
    t.write(spark.createDataFrame([(3, 33)], ddl), branch="b")  # fork
    t.evolve_schema(drop=["e2"])
    t.evolve_schema(add={"e4": "bigint"})
    # branch write under the CURRENT schema (id, e4) must round-trip
    bsid = t.write(
        spark.createDataFrame([(4, 44)], "id bigint, e4 bigint"), branch="b"
    )
    got = sorted(tuple(r) for r in t.scan(branch="b").collect())
    assert t.scan(branch="b").columns == ["id", "e4"]
    assert got == [(1, None), (2, None), (3, None), (4, 44)]
    dsv2.register(spark)
    fmt = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .option("branch", "b")
        .load()
        .collect()
    )
    assert fmt == got
    # VERSION AS OF the branch name: snapshot schema (current, since the
    # branch head is the newest commit) — and the pre-evolution snapshot
    # keeps its period schema
    assert t.scan_at("b").columns == ["id", "e4"]
    assert t.scan_at(1).columns == ["id", "e2"]
    assert t.branches()["b"] == bsid  # branch head moved; main untouched


def test_column_name_reuse_does_not_resurrect(spark, tmp_path):
    """Iceberg reads columns by field id: a column dropped and later
    re-added under the SAME name is a different column — files from its
    previous life must read NULL (both scan paths), while time travel to
    the old snapshot still sees the original values under the period
    schema."""
    from emr_apache_iceberg_workshop_spark.sources import dsv2
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, e1 bigint"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    t.write(spark.createDataFrame([(1, 111), (2, 222)], ddl))
    t.evolve_schema(drop=["e1"])
    t.evolve_schema(add={"e1": "bigint"})
    t.write(spark.createDataFrame([(3, 999)], ddl))
    expect = [(1, None), (2, None), (3, 999)]
    assert sorted(tuple(r) for r in t.scan().collect()) == expect
    dsv2.register(spark)
    fmt = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .load()
        .collect()
    )
    assert fmt == expect
    # the ORIGINAL column is still there for time travel
    assert sorted(tuple(r) for r in t.scan_at(1).collect()) == [(1, 111), (2, 222)]
    fmt1 = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .option("snapshot-id", "1")
        .load()
        .collect()
    )
    assert fmt1 == [(1, 111), (2, 222)]
