"""`df.write.format("eiws")` / `readStream`/`writeStream` (Python Data
Source write + streaming surfaces) vs the native SnapshotTable paths.

The batch writer's contract: a format-level write must be
indistinguishable — in committed layout, manifest content, and every
read path — from the same rows written through SnapshotTable.write
(whose own staging comes from Spark's partitionBy). The reference's
writers use exactly this call shape on Iceberg (`raw-bronze.py:104-107`
format-level saves, `bronze-silver.py:194` append), so parity here is
parity with the reference's write surface.

The streaming reader/writer mirror the incremental option pair
(`bronze-silver.py:146-149`) driven by Spark's own offset checkpoint,
with the (query scope, batch id) replay guard of
streaming/jobs.py:append_stream_batch."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def wspark(spark):
    from emr_apache_iceberg_workshop_spark.sources import dsv2

    dsv2.register(spark)
    return spark


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("qty", T.LongType()),
    ]
)


def _table(spark, tmp_path, partition_by=None, name="t"):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    root = str(tmp_path / name)
    return SnapshotTable.create(spark, root, SCHEMA, partition_by=partition_by or [])


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_roundtrip_unpartitioned(wspark, tmp_path):
    t = _table(wspark, tmp_path)
    df = wspark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, None, 30)], SCHEMA)
    df.write.format("eiws").mode("append").option("table", t.root).save()
    assert _rows(t.scan()) == [(1, "a", 10), (2, "b", 20), (3, None, 30)]
    fmt = wspark.read.format("eiws").option("table", t.root).load()
    assert _rows(fmt) == _rows(t.scan())
    # manifest bookkeeping matches the native writer's: footer-derived
    # stats are present, so pruning and iceberg emission work untouched
    files = t.snapshots()[-1].files
    assert sum(f["rows"] for f in files) == 3
    assert min(f["bounds"]["id"][0] for f in files if f["rows"]) == 1
    assert max(f["bounds"]["id"][1] for f in files if f["rows"]) == 3


def test_append_partitioned_parity_with_native(wspark, tmp_path):
    """Same rows through the native writer and the DSv2 writer produce
    the same partition dirs, partition tuples, and scan results — for
    identity, temporal (days), and Iceberg-bucket hidden transforms."""
    rows = [
        (1, "a", 10),
        (2, "b", 20),
        (3, None, 30),
        (17, "a", 40),
        (33, "b", 50),
    ]
    for spec in (["category"], ["bucket(4, id)"]):
        nat = _table(wspark, tmp_path, partition_by=spec, name=f"nat-{spec[0][:3]}")
        fmt = _table(wspark, tmp_path, partition_by=spec, name=f"fmt-{spec[0][:3]}")
        df = wspark.createDataFrame(rows, SCHEMA)
        nat.write(df, mode="append")
        df.write.format("eiws").mode("append").option("table", fmt.root).save()
        assert _rows(nat.scan()) == _rows(fmt.scan())
        nparts = sorted(map(str, nat.snapshots()[-1].partitions))
        fparts = sorted(map(str, fmt.snapshots()[-1].partitions))
        assert nparts == fparts, spec
        # dir-name layout parity (hive encoding incl. the null partition)
        def dirs(root):
            out = set()
            for dp, _d, fs in os.walk(os.path.join(root, "data")):
                if any(f.endswith(".parquet") for f in fs):
                    out.add(os.path.relpath(dp, root).split(os.sep, 2)[-1])
            return out

        assert dirs(nat.root) == dirs(fmt.root), spec


def test_days_transform_write(wspark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    root = str(tmp_path / "days")
    t = SnapshotTable.create(wspark, root, schema, partition_by=["days(ts)"])
    import datetime as dt

    df = wspark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 5)),
            (2, dt.datetime(2024, 1, 1, 23)),
            (3, dt.datetime(2024, 2, 2, 0)),
        ],
        schema,
    )
    df.write.format("eiws").mode("append").option("table", root).save()
    parts = sorted(str(p["ts_day"]) for p in t.snapshots()[-1].partitions)
    assert parts == ["2024-01-01", "2024-02-02"]
    assert t.scan().count() == 3
    # the ts column itself survives in the data files (only the derived
    # partition column is stripped)
    assert _rows(t.scan().select("id", "ts")) == _rows(df)


def test_overwrite_mode(wspark, tmp_path):
    t = _table(wspark, tmp_path)
    wspark.createDataFrame([(1, "a", 1)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).save()
    wspark.createDataFrame([(9, "z", 9)], SCHEMA).write.format("eiws").mode(
        "overwrite"
    ).option("table", t.root).save()
    assert _rows(t.scan()) == [(9, "z", 9)]
    assert [s.operation for s in t.snapshots()] == ["append", "overwrite"]


def test_branch_write_is_wap(wspark, tmp_path):
    t = _table(wspark, tmp_path)
    wspark.createDataFrame([(1, "a", 1)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).save()
    wspark.createDataFrame([(2, "b", 2)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).option("branch", "audit").save()
    assert _rows(t.scan()) == [(1, "a", 1)]  # main unaffected
    audit = (
        wspark.read.format("eiws")
        .option("table", t.root)
        .option("branch", "audit")
        .load()
    )
    assert _rows(audit) == [(1, "a", 1), (2, "b", 2)]
    t.fast_forward("audit", to="main")
    assert _rows(t.scan()) == [(1, "a", 1), (2, "b", 2)]


def test_schema_mismatch_raises(wspark, tmp_path):
    t = _table(wspark, tmp_path)
    bad = wspark.createDataFrame([(1, "a")], "id bigint, category string")
    with pytest.raises(Exception, match="does not match"):
        bad.write.format("eiws").mode("append").option("table", t.root).save()
    badtype = wspark.createDataFrame(
        [(1, "a", 1)], "id bigint, category string, qty int"
    )
    with pytest.raises(Exception, match="does not match"):
        badtype.write.format("eiws").mode("append").option("table", t.root).save()


def test_write_to_missing_table_raises(wspark, tmp_path):
    df = wspark.createDataFrame([(1, "a", 1)], SCHEMA)
    with pytest.raises(Exception, match="existing snapshot table"):
        df.write.format("eiws").mode("append").option(
            "table", str(tmp_path / "nope")
        ).save()


def test_racing_native_append_rebases(wspark, tmp_path):
    """A DSv2 commit and a native append land as two snapshots regardless
    of order — both go through the same commit_staged CAS/rebase loop."""
    t = _table(wspark, tmp_path)
    wspark.createDataFrame([(1, "a", 1)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).save()
    t.write(wspark.createDataFrame([(2, "b", 2)], SCHEMA), mode="append")
    wspark.createDataFrame([(3, "c", 3)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).save()
    assert [s.snapshot_id for s in t.snapshots()] == [1, 2, 3]
    assert _rows(t.scan()) == [(1, "a", 1), (2, "b", 2), (3, "c", 3)]


# ---------------------------------------------------------------------------
# streaming


def _stream_once(spark, src_root, dst_root, ckpt, scope=None):
    w = (
        spark.readStream.format("eiws")
        .option("table", src_root)
        .load()
        .writeStream.format("eiws")
        .option("table", dst_root)
        .option("checkpointLocation", ckpt)
    )
    if scope:
        w = w.option("query-scope", scope)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(120)


def test_stream_tail_exactly_once(wspark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    src = SnapshotTable.create(wspark, str(tmp_path / "src"), schema)
    for i in range(3):
        src.write(
            wspark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(3)], schema),
            mode="append",
        )
    dst = SnapshotTable.create(wspark, str(tmp_path / "dst"), schema)
    ckpt = str(tmp_path / "ckpt")

    _stream_once(wspark, src.root, dst.root, ckpt)
    assert sorted(r.id for r in dst.scan().collect()) == [
        0, 1, 2, 10, 11, 12, 20, 21, 22,
    ]
    # restart on the same checkpoint: only the new snapshot's rows
    src.write(wspark.createDataFrame([(100, "late")], schema), mode="append")
    _stream_once(wspark, src.root, dst.root, ckpt)
    assert sorted(r.id for r in dst.scan().collect()) == [
        0, 1, 2, 10, 11, 12, 20, 21, 22, 100,
    ]
    # no new data: no new snapshot, and no stage-dir litter
    before = [s.snapshot_id for s in dst.snapshots()]
    _stream_once(wspark, src.root, dst.root, ckpt)
    assert [s.snapshot_id for s in dst.snapshots()] == before
    assert all(
        s.summary.get("streaming.batch-id") is not None for s in dst.snapshots()
    )
    assert not [
        d for d in os.listdir(os.path.join(dst.root, "data")) if d.startswith(".stage")
    ]


@pytest.mark.slow
def test_stream_replayed_batch_is_dropped(wspark, tmp_path):
    """A re-delivered (scope, batch-id) pair commits nothing — the
    at-least-once -> exactly-once guard, exercised by deleting the sink's
    checkpoint so Spark replays batch 0 from scratch. The default run
    checks the same guard on the sink's commit
    (`test_table_format.py::test_stream_sink_replay_guard_is_property_only`)."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    src = SnapshotTable.create(wspark, str(tmp_path / "src"), schema)
    src.write(wspark.createDataFrame([(1,), (2,)], schema), mode="append")
    dst = SnapshotTable.create(wspark, str(tmp_path / "dst"), schema)
    ckpt = str(tmp_path / "ckpt")

    _stream_once(wspark, src.root, dst.root, ckpt, scope="q1")
    assert sorted(r.id for r in dst.scan().collect()) == [1, 2]
    shutil.rmtree(ckpt)  # lose the checkpoint: batch ids restart at 0
    _stream_once(wspark, src.root, dst.root, str(tmp_path / "ckpt"), scope="q1")
    assert sorted(r.id for r in dst.scan().collect()) == [1, 2]  # replay dropped
    # a DIFFERENT scope is a different query: its batch 0 must apply
    _stream_once(wspark, src.root, dst.root, str(tmp_path / "ckpt2"), scope="q2")
    assert sorted(r.id for r in dst.scan().collect()) == [1, 1, 2, 2]


def test_stream_raises_on_non_append(wspark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    src = SnapshotTable.create(wspark, str(tmp_path / "src"), schema)
    src.write(wspark.createDataFrame([(1,)], schema), mode="append")
    src.write(wspark.createDataFrame([(2,)], schema), mode="overwrite")
    q = (
        wspark.readStream.format("eiws")
        .option("table", src.root)
        .load()
        .writeStream.format("memory")
        .queryName("dsv2_nonappend")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="non-append"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()


def test_stream_start_snapshot_option(wspark, tmp_path):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    src = SnapshotTable.create(wspark, str(tmp_path / "src"), schema)
    for i in range(3):
        src.write(wspark.createDataFrame([(i,)], schema), mode="append")
    q = (
        wspark.readStream.format("eiws")
        .option("table", src.root)
        .option("start-snapshot-id", 2)  # skip snapshots 1..2
        .load()
        .writeStream.format("memory")
        .queryName("dsv2_startsid")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.id for r in wspark.sql("SELECT * FROM dsv2_startsid").collect())
    assert got == [2]


def test_null_filter_file_pruning(wspark, tmp_path):
    """IsNull/IsNotNull prune whole files from partition values and
    footer null counts — and stay lossless because Spark re-applies the
    predicate row-level."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    from emr_apache_iceberg_workshop_spark.sources.dsv2 import SnapshotTableReader

    t = _table(wspark, tmp_path, partition_by=["category"])
    t.write(
        wspark.createDataFrame([(1, "a", 10), (2, None, None)], SCHEMA),
        mode="append",
    )
    t.write(wspark.createDataFrame([(3, "b", None)], SCHEMA), mode="append")

    fields = [(f.name, f.dataType.simpleString()) for f in t.schema().fields]
    base = len(SnapshotTableReader({"table": t.root}, fields).partitions())
    assert base == 3  # category=a, category=NULL, category=b files

    rd = SnapshotTableReader({"table": t.root}, fields)
    rd.pushFilters([IsNotNull(("category",))])
    assert len(rd.partitions()) == 2  # null-partition file dropped

    rd = SnapshotTableReader({"table": t.root}, fields)
    rd.pushFilters([IsNull(("category",))])
    assert len(rd.partitions()) == 1

    rd = SnapshotTableReader({"table": t.root}, fields)
    rd.pushFilters([IsNotNull(("qty",))])  # footer null counts: qty all
    assert len(rd.partitions()) == 1  # null in two of the three files

    rd = SnapshotTableReader({"table": t.root}, fields)
    rd.pushFilters([IsNull(("qty",))])
    assert len(rd.partitions()) == 2  # the qty=10 file has zero nulls

    # end-to-end equality through the Spark plan
    fmt = wspark.read.format("eiws").option("table", t.root).load()
    assert _rows(fmt.filter("category IS NOT NULL")) == _rows(
        t.scan().filter("category IS NOT NULL")
    )
    assert _rows(fmt.filter("qty IS NULL")) == _rows(t.scan().filter("qty IS NULL"))


def test_format_written_table_emits_iceberg(wspark, tmp_path):
    """Cross-layer closure: a table whose only data came through the DSv2
    Arrow writer emits valid Iceberg metadata, and the external-reader
    manifest walk plus a DuckDB parquet replay reconstruct exactly the
    engine's scan — the format writer's manifests feed the interop path
    untouched."""
    import duckdb as dk

    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        read_data_files,
        write_iceberg_metadata,
    )

    t = _table(wspark, tmp_path, partition_by=["category"])
    wspark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (4, "a", 40)], SCHEMA
    ).write.format("eiws").mode("append").option("table", t.root).save()
    wspark.createDataFrame([(9, "c", 90)], SCHEMA).write.format("eiws").mode(
        "append"
    ).option("table", t.root).save()

    md = write_iceberg_metadata(t)
    files = read_data_files(md)
    assert {f["partition"]["category"] for f in files} == {"a", "b", "c"}
    rows = dk.connect().execute(
        "SELECT id, qty FROM read_parquet(?) ORDER BY id",
        [sorted(f["file_path"] for f in files)],
    ).fetchall()
    assert rows == [(1, 10), (2, 20), (4, 40), (9, 90)]


def test_many_partitions_lru_bounded_writers(wspark, tmp_path):
    """A task streaming more distinct partition values than the open-file
    cap (64) closes least-recently-written files and reopens new ones on
    key reappearance — rows survive exactly and reopened keys simply
    produce extra files. Driven through _write_batches directly so the
    keys genuinely arrive across multiple Arrow batches."""
    import pyarrow as pa

    from emr_apache_iceberg_workshop_spark.sources.dsv2 import (
        SnapshotTableArrowWriter,
    )

    t = _table(wspark, tmp_path, partition_by=["category"])
    fields = [(f.name, f.dataType.simpleString()) for f in t.schema().fields]
    w = SnapshotTableArrowWriter({"table": t.root}, fields, overwrite=False)
    # 100 keys per batch, two batches: every key reappears after the LRU
    # (cap 64) evicted it during the first batch's tail
    batches = [
        pa.record_batch(
            {
                "id": pa.array([b * 100 + i for i in range(100)], pa.int64()),
                "category": pa.array([f"k{i:03d}" for i in range(100)]),
                "qty": pa.array([b * 100 + i for i in range(100)], pa.int64()),
            }
        )
        for b in range(2)
    ]
    msg = w._write_batches(iter(batches))
    w.commit([msg])
    snap = t.snapshots()[-1]
    assert len(snap.partitions) == 100
    assert len(snap.files) > 100  # evicted keys reopened as new files
    assert _rows(t.scan()) == sorted(
        (b * 100 + i, f"k{i:03d}", b * 100 + i) for b in range(2) for i in range(100)
    )


def test_batch_commit_publishes_only_reported_files(wspark, tmp_path):
    """A failed/speculative task attempt's partial parquet sits in the
    shared stage dir but is in no successful task's commit message — the
    commit must sweep it, not publish it as duplicate/corrupt rows
    (standard Spark commit-protocol semantics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emr_apache_iceberg_workshop_spark.sources.dsv2 import (
        SnapshotTableArrowWriter,
    )

    t = _table(wspark, tmp_path)
    fields = [(f.name, f.dataType.simpleString()) for f in t.schema().fields]
    w = SnapshotTableArrowWriter({"table": t.root}, fields, overwrite=False)
    good = pa.record_batch(
        {
            "id": pa.array([1, 2], pa.int64()),
            "category": pa.array(["a", "b"]),
            "qty": pa.array([10, 20], pa.int64()),
        }
    )
    msg = w._write_batches(iter([good]))
    # simulate a dead attempt: duplicate rows staged but never reported
    stage = os.path.join(t.root, w.stage_rel)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "category": pa.array(["a"]),
                "qty": pa.array([10], pa.int64()),
            }
        ),
        os.path.join(stage, "part-deadattempt-0000.snappy.parquet"),
    )
    w.commit([msg])
    assert _rows(t.scan()) == [(1, "a", 10), (2, "b", 20)]  # no duplicate
    assert sum(f["rows"] for f in t.snapshots()[-1].files) == 2
    assert not [
        d for d in os.listdir(os.path.join(t.root, "data")) if d.startswith(".stage")
    ]


def test_stream_fresh_checkpoint_defaults_to_distinct_scope(wspark, tmp_path):
    """Two queries with DIFFERENT checkpoints and no explicit query-scope
    must not share a replay guard: the second query's batch 0 appends
    instead of being dropped against the first query's batch ids."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    src = SnapshotTable.create(wspark, str(tmp_path / "src"), schema)
    src.write(wspark.createDataFrame([(1,), (2,)], schema), mode="append")
    dst = SnapshotTable.create(wspark, str(tmp_path / "dst"), schema)

    _stream_once(wspark, src.root, dst.root, str(tmp_path / "ckptA"))
    assert sorted(r.id for r in dst.scan().collect()) == [1, 2]
    # a brand-new query (fresh checkpoint, batch ids restart at 0)
    _stream_once(wspark, src.root, dst.root, str(tmp_path / "ckptB"))
    assert sorted(r.id for r in dst.scan().collect()) == [1, 1, 2, 2]
    # while the SAME checkpoint location still replays exactly-once
    _stream_once(wspark, src.root, dst.root, str(tmp_path / "ckptA"))
    assert sorted(r.id for r in dst.scan().collect()) == [1, 1, 2, 2]
