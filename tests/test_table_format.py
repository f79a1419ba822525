"""One copy of the table-format rules: every reader of `_meta.json` — the
metadata tables, file pruning, the Iceberg emitter and the `eiws` format
reader — plans a snapshot's live files through the table layer
(`SnapshotTable._snapshot_files`), and no other engine module re-derives
lineage, births, renames or the table-state keys on its own."""

from __future__ import annotations

import ast
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import functions as F
from pyspark.sql import types as T

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "emr_apache_iceberg_workshop_spark")

# hive-escaped in directory names ('/' ':' '%' '='), plus the NULL partition
ESCAPED = ["a/b", "x:y", "p%q", "k=v", None]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_escaped_partition_views_match_scan(spark, tmp_path):
    """A copy-on-write merge over partitions whose directory names are
    hive-escaped masks their old files. Every view of the live state must
    agree with `scan()`: a view that compares the escaped manifest value
    with the raw exclusion tuple keeps the masked files live (an external
    reader of the emitted metadata then sees both versions of a row)."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        read_data_files,
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.sources import dsv2
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("cat", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    t = SnapshotTable.create(spark, str(tmp_path / "esc"), schema, partition_by=["cat"])
    old = [(i, c, i) for i, c in enumerate(ESCAPED, 1)]
    t.write(spark.createDataFrame(old, schema), mode="append")  # data/s1
    t.write(spark.createDataFrame([(9, "plain", 9)], schema), mode="append")
    t.merge(spark.createDataFrame([(i, c, 100 + i) for i, c, _v in old], schema), keys=["id"])

    scan = t.scan()
    expect = sorted([(i, c, 100 + i) for i, c, _v in old] + [(9, "plain", 9)], key=repr)
    assert _rows(scan) == expect
    root = os.path.abspath(t.root)
    scanned = {
        os.path.relpath(unquote(urlparse(r.p).path), root)
        for r in scan.select(F.input_file_name().alias("p")).distinct().collect()
    }

    files = t.files_table().filter("content = 0").collect()
    assert {r.file_path for r in files} == scanned
    assert {f["path"] for _rel, f in t._live_files()} == scanned
    head = t.snapshots_table().orderBy(F.desc("snapshot_id")).first()
    assert (head.total_data_files, head.total_records) == (len(scanned), len(expect))
    parts = {r.part: r.record_count for r in t.partitions_table().collect()}
    assert parts == {
        "cat=" + ("__HIVE_DEFAULT_PARTITION__" if c is None else dsv2._escape_path(c)): 1
        for c in ESCAPED + ["plain"]
    }
    emitted = read_data_files(write_iceberg_metadata(t))
    assert {os.path.relpath(d["file_path"], root) for d in emitted} == scanned
    assert {d["partition"]["cat"] for d in emitted} == set(ESCAPED + ["plain"])
    dsv2.register(spark)
    assert _rows(spark.read.format("eiws").option("table", t.root).load()) == expect

    # pruning compares raw values too: an equality on 'a/b' keeps its file
    kept, _total = t.plan_files("cat", "a/b", "a/b")
    assert [f["partition"]["cat"] for _rel, f in kept] == ["a%2Fb"]
    # every partition of data/s1 is masked: the dir leaves the state
    active = t._snapshot_state(t._head(t._load()))[0]
    assert "data/s1" not in [e if isinstance(e, str) else e["dir"] for e in active]


def test_maintain_rewrites_escaped_partition(spark, tmp_path):
    """`maintain` finds overfull partitions in the manifest and rewrites
    them by value: the escaped manifest value must be matched in raw
    form, or the rewrite selects no row and commits nothing."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = "id bigint, cat string"
    t = SnapshotTable.create(spark, str(tmp_path / "m"), schema, partition_by=["cat"])
    for i in (1, 2):
        t.write(spark.createDataFrame([(i, "a/b")], schema).coalesce(1), mode="append")
    assert len(t._live_files()) == 2
    t.maintain(max_files_per_partition=1)
    assert len(t._live_files()) == 1
    assert _rows(t.scan()) == [(1, "a/b"), (2, "a/b")]


def test_merge_replay_guard_is_property_only(spark, tmp_path, monkeypatch):
    """The MERGE replay guard reads the exact-scope guard property: no
    walk over the snapshot summaries, whose cost grows with history."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "freq"), "token string, freq bigint")
    src = spark.createDataFrame([("a", 1)], "token string, freq bigint")
    t.merge(src, keys=["token"], summary_extra=t.stream_stamp("qA", 4))
    t.merge(src, keys=["token"], summary_extra=t.stream_stamp(None, 7))

    def _boom(*a, **k):
        raise AssertionError("replay guard walked the snapshot log")

    monkeypatch.setattr(SnapshotTable, "snapshots", _boom)
    monkeypatch.setattr(SnapshotTable, "_lineage", _boom)
    assert t.stream_stamp("qA", 4) is None and t.stream_stamp("qA", 5) is not None
    assert t.stream_stamp("qB", 1) is not None  # exact scope: other scopes never count
    assert t.stream_stamp(None, 7) is None and t.stream_stamp(None, 8) is not None


def test_stream_sink_replay_guard_is_property_only(spark, tmp_path, monkeypatch):
    """The `eiws` stream sink answers its scoped replay guard from the
    guard property: a replayed batch is still aborted, and no commit
    walks the snapshot log."""
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import SnapshotTableStreamWriter
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")

    def commit(batch_id, scope="qA", branch="main"):
        # the sink is re-created per commit, as in every Python worker
        SnapshotTableStreamWriter(
            {"table": t.root, "query-scope": scope, "branch": branch}, [("id", "bigint")], False
        ).commit([], batchId=batch_id)

    commit(0)

    def _boom(self):
        raise AssertionError("stream sink walked the snapshot log")

    monkeypatch.setattr(SnapshotTable, "snapshots", _boom)
    commit(1)
    commit(1)  # at-least-once replay: aborted
    commit(0)
    commit(2)
    commit(0, "qB")  # another scope is another query: its batch 0 applies
    monkeypatch.undo()
    stamps = [(s.summary["streaming.query-scope"], s.summary["streaming.batch-id"])
              for s in t.snapshots()]
    assert stamps == [("qA", 0), ("qA", 1), ("qA", 2), ("qB", 0)]
    # a branch commit does not stamp main's guard: its replay is still aborted
    t.create_branch("audit")
    commit(0, "qC", "audit")
    commit(0, "qC", "audit")
    assert [s.summary["streaming.query-scope"] for s in t.snapshots()][4:] == ["qC"]


# format rules the table layer owns (tables.py); plans/tablemeta.py keeps
# its own reading of `_meta.json` because its oracles must be independent
_OWNER = "tables.py"
_RULES = {"_lineage", "_births", "_name_at", "_dir_manifest", "_head", "_ddl_at", "_spec_at"}
# table-state keys, and the partition-spec log `_spec_at` reads
_STATE_KEYS = {
    "active_dirs", "active_deletes", "dir_manifests", "evolve-partition", "prev_partition_by",
}
# the streaming replay guard's stamp and property keys (`stream_stamp`)
_GUARD_KEYS = {"streaming.batch-id", "streaming.query-scope", "streaming.max-batch-id"}


def test_format_rules_have_one_definition():
    """No engine module but the owner defines a format rule or names a
    replay-guard key, and none but the owner and the oracle module names
    a table-state key."""
    bad = []
    for dirpath, _dirs, names in os.walk(ENGINE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ENGINE)
            if rel == _OWNER:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name in _RULES:
                    bad.append(f"{rel}:{node.lineno} defines {node.name}")
                if (
                    rel != os.path.join("plans", "tablemeta.py")
                    and isinstance(node, ast.Constant)
                    and node.value in _STATE_KEYS
                ):
                    bad.append(f"{rel}:{node.lineno} reads {node.value!r}")
                if isinstance(node, ast.Constant) and node.value in _GUARD_KEYS:
                    bad.append(f"{rel}:{node.lineno} names guard key {node.value!r}")
    assert not bad, bad
