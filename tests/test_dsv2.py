"""`spark.read.format("eiws")` (Python Data Source) vs the native
SnapshotTable scan paths. Both plan from the table layer (one definition
of which files a snapshot reads), but execute independently: Spark's
parquet relations and anti-joins on one side, pyarrow reads with
per-file delete, rename and cross-spec exclusion handling on the other.
Agreement on every fixture shape checks the two executors against each
other; the table-model fuzz and the DuckDB oracles are the independent
references for both."""

from __future__ import annotations

import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fx(name: str) -> str:
    return os.path.join(ROOT, "fixtures", name)


@pytest.fixture(scope="module")
def dsv2_spark(spark):
    from emr_apache_iceberg_workshop_spark.plans import tablemeta
    from emr_apache_iceberg_workshop_spark.sources import dsv2

    dsv2.register(spark)
    tablemeta._demo_table(spark)  # ensure the demo fixtures exist
    tablemeta._age_table(spark)
    return spark


def _native(spark, root):
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    return SnapshotTable(spark, root)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# every committed fixture shape: MOR equality deletes, COW partition
# exclusions, positional deletes, renames, spec evolution, hidden
# transforms, rollback forks, relocated manifests after expiry, buckets
FIXTURES = [
    "tablemeta_demo",
    "dml_demo",
    "posdel_demo",
    "rename_demo",
    "spec_demo",
    "hidden_demo",
    "rollback_demo",
    "maint_policy_demo",
    "iceberg_v2_demo",
    "sql_demo",
    "cherrypick_demo",
    "expire_age_demo",
    "bucket_demo",
    "wap_demo",
]


@pytest.mark.parametrize("name", FIXTURES)
def test_full_scan_matches_native(dsv2_spark, name):
    root = _fx(name)
    if not os.path.exists(os.path.join(root, "_meta.json")):
        pytest.skip(f"fixture {name} not built in this checkout")
    a = _rows(_native(dsv2_spark, root).scan())
    b = _rows(dsv2_spark.read.format("eiws").option("table", root).load())
    assert a == b


def test_time_travel_and_refs(dsv2_spark):
    root = _fx("tablemeta_demo")
    t = _native(dsv2_spark, root)
    r = dsv2_spark.read.format("eiws").option("table", root)
    assert _rows(t.scan_at(2)) == _rows(r.option("snapshot-id", "2").load())
    assert _rows(t.scan_at("audit")) == _rows(r.option("snapshot-id", "audit").load())
    assert _rows(t.scan_as_of(1700000070)) == _rows(
        r.option("as-of-timestamp", "1700000070").load()
    )


def test_branch_read(dsv2_spark):
    root = _fx("wap_demo")
    t = _native(dsv2_spark, root)
    got = _rows(
        dsv2_spark.read.format("eiws")
        .option("table", root)
        .option("branch", "audit")
        .load()
    )
    assert got == _rows(t.scan("audit"))
    assert got != _rows(t.scan())  # staged branch differs from main


def test_incremental_matches_and_raises_on_overwrite(dsv2_spark):
    root = _fx("tablemeta_demo")
    t = _native(dsv2_spark, root)
    r = dsv2_spark.read.format("eiws").option("table", root)
    assert _rows(t.scan_incremental(1, 2)) == _rows(
        r.option("start-snapshot-id", "1").option("end-snapshot-id", "2").load()
    )
    # (1, 3] crosses the MOR merge commit: both paths must refuse
    with pytest.raises(Exception, match="non-append"):
        t.scan_incremental(1, 3).collect()
    with pytest.raises(Exception, match="non-append"):
        r.option("start-snapshot-id", "1").option("end-snapshot-id", "3").load().collect()


def test_load_path_form(dsv2_spark):
    root = _fx("tablemeta_demo")
    a = _rows(_native(dsv2_spark, root).scan())
    assert a == _rows(dsv2_spark.read.format("eiws").load(root))


def test_filtered_read_matches_and_prunes_files(dsv2_spark):
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import SnapshotTableReader

    root = _fx("tablemeta_demo")
    t = _native(dsv2_spark, root)
    df = (
        dsv2_spark.read.format("eiws")
        .option("table", root)
        .load()
        .filter("category = 'a' AND qty >= 20")
    )
    assert _rows(df) == _rows(t.scan().filter("category = 'a' AND qty >= 20"))
    # planner-level check: a pushed partition filter drops non-matching
    # files before Spark schedules anything
    fields = [(f.name, f.dataType.simpleString()) for f in t.schema().fields]
    rd = SnapshotTableReader({"table": root}, fields)
    all_files = len(rd.partitions())
    from pyspark.sql.datasource import EqualTo

    rd2 = SnapshotTableReader({"table": root}, fields)
    rd2.pushFilters([EqualTo(("category",), "a")])
    pruned = len(rd2.partitions())
    assert 0 < pruned < all_files
    # bounds pruning: qty > every manifest upper bound plans zero files
    from pyspark.sql.datasource import GreaterThan

    rd3 = SnapshotTableReader({"table": root}, fields)
    rd3.pushFilters([GreaterThan(("qty",), 10_000)])
    # every data file pruned: the plan is the single read-nothing
    # sentinel (the batch API requires >= 1 partition)
    assert [s.path for s in rd3.partitions()] == [""]


def test_unknown_ref_raises(dsv2_spark):
    root = _fx("tablemeta_demo")
    with pytest.raises(Exception, match="unknown"):
        (
            dsv2_spark.read.format("eiws")
            .option("table", root)
            .option("snapshot-id", "no-such-tag")
            .load()
            .collect()
        )


def test_missing_table_option_raises(dsv2_spark):
    with pytest.raises(Exception, match="eiws reader needs"):
        dsv2_spark.read.format("eiws").load("/no/such/table").collect()


def test_schema_evolution_add_column(dsv2_spark, tmp_path):
    """Files written BEFORE evolve_schema(add=...) lack the added column
    entirely; the dsv2 reader must null-fill them (the native scan's
    explicit read schema does), not crash on the missing parquet column."""
    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = SnapshotTable.create(dsv2_spark, str(tmp_path / "evo"), schema)
    t.write(dsv2_spark.createDataFrame([(1, "a"), (2, "b")], schema), mode="append")
    t.evolve_schema(add={"score": "double"})
    new_schema = t.schema()
    t.write(
        dsv2_spark.createDataFrame([(3, "c", 0.5)], new_schema), mode="append"
    )
    fmt = dsv2_spark.read.format("eiws").option("table", t.root).load()
    assert _rows(fmt) == _rows(t.scan()) == [(1, "a", None), (2, "b", None), (3, "c", 0.5)]
    # time travel to the pre-evolution snapshot: schema has no score col
    fmt1 = (
        dsv2_spark.read.format("eiws")
        .option("table", t.root)
        .option("snapshot-id", "1")
        .load()
    )
    assert fmt1.columns == ["id", "v"]
    assert _rows(fmt1) == _rows(t.scan_at(1))


def test_tag_and_branch_schema_resolution(dsv2_spark, tmp_path):
    """Iceberg's branch/tag schema rule on a schema-evolved table: a TAG
    (or VERSION AS OF) declares the schema AS OF the referenced snapshot
    (tables.py:scan_at parity); a BRANCH read uses the TABLE's current
    schema — branches are writable, and writes validate against the
    current schema, so reads must round-trip."""
    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("id", T.LongType())])
    t = SnapshotTable.create(dsv2_spark, str(tmp_path / "tagevo"), schema)
    t.write(dsv2_spark.createDataFrame([(1,)], schema), mode="append")
    t.create_tag("v1")
    t.create_branch("hold")
    t.evolve_schema(add={"extra": "string"})
    t.write(dsv2_spark.createDataFrame([(2, "x")], t.schema()), mode="append")
    r = dsv2_spark.read.format("eiws").option("table", t.root)
    tagged = r.option("snapshot-id", "v1").load()
    assert tagged.columns == ["id"]
    assert _rows(tagged) == _rows(t.scan_at("v1")) == [(1,)]
    branched = (
        dsv2_spark.read.format("eiws")
        .option("table", t.root)
        .option("branch", "hold")
        .load()
    )
    assert branched.columns == ["id", "extra"]  # table-current schema
    assert _rows(branched) == [(1, None)] == _rows(t.scan(branch="hold"))
    # VERSION AS OF the branch NAME keeps the snapshot schema
    via_name = r.option("snapshot-id", "hold").load()
    assert via_name.columns == ["id"]
    # head read still sees the evolved schema
    head = dsv2_spark.read.format("eiws").option("table", t.root).load()
    assert head.columns == ["id", "extra"]


def test_special_char_partition_values(dsv2_spark, tmp_path):
    """Partition values with hive-escapable characters (':', '/', '#',
    '%'): dir names store them %XX-escaped, exclusion tuples and injected
    values use the RAW form — the dsv2 path must unescape manifest
    values or it keeps overwritten rows and returns escaped strings."""
    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cat", T.StringType())]
    )
    t = SnapshotTable.create(
        dsv2_spark, str(tmp_path / "esc"), schema, partition_by=["cat"]
    )
    rows = [(1, "a:b"), (2, "x/y#z"), (3, "p%q"), (4, "plain")]
    t.write(dsv2_spark.createDataFrame(rows, schema), mode="append")
    fmt = dsv2_spark.read.format("eiws").option("table", t.root).load()
    assert _rows(fmt) == _rows(t.scan()) == sorted(rows)
    # dynamic partition overwrite of ONE escaped partition: the exclusion
    # tuple is the raw value; dsv2 must drop the old file for 'a:b' only
    t.overwrite_partitions(dsv2_spark.createDataFrame([(10, "a:b")], schema))
    expect = sorted([(10, "a:b"), (2, "x/y#z"), (3, "p%q"), (4, "plain")])
    fmt2 = dsv2_spark.read.format("eiws").option("table", t.root).load()
    assert _rows(fmt2) == _rows(t.scan()) == expect


def test_warehouse_name_resolution(dsv2_spark, tmp_path):
    """`option('warehouse', wh).option('table', '<catalog name>')` reads
    a SqlCatalog-registered table by NAME through the format — the
    reference's catalog-name read shape on its format reader."""
    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    wh = str(tmp_path / "wh")
    schema = T.StructType([T.StructField("id", T.LongType())])
    t = SnapshotTable.create(dsv2_spark, str(tmp_path / "t1"), schema)
    t.write(dsv2_spark.createDataFrame([(1,), (2,)], schema), mode="append")
    SqlCatalog(dsv2_spark, wh).register("db.orders", t.root)
    got = (
        dsv2_spark.read.format("eiws")
        .option("warehouse", wh)
        .option("table", "db.orders")
        .load()
    )
    assert _rows(got) == [(1,), (2,)]
    # unknown name: the unresolved string fails the reader's root check
    with pytest.raises(Exception, match="eiws reader needs"):
        (
            dsv2_spark.read.format("eiws")
            .option("warehouse", wh)
            .option("table", "db.nope")
            .load()
            .collect()
        )


def test_via_format_conf_unifies_read_paths(dsv2_spark):
    """Every library read entry point (scan / scan_at / scan_as_of /
    scan_incremental) and its eiws-format counterpart plan from the same
    table-layer scan relation and return identical results; the format
    side is plan-verified to run through the Python data source."""
    root = _fx("tablemeta_demo")
    t = _native(dsv2_spark, root)

    def fmt(**opts):
        r = dsv2_spark.read.format("eiws").option("table", root)
        for k, v in opts.items():
            r = r.option(k.replace("_", "-"), v)
        return r.load()

    routed = fmt()
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan eiws" in plan
    assert _rows(routed) == _rows(t.scan())
    assert _rows(fmt(snapshot_id="2")) == _rows(t.scan_at(2))
    assert _rows(fmt(snapshot_id="audit")) == _rows(t.scan_at("audit"))
    assert _rows(fmt(as_of_timestamp="1700000070")) == _rows(t.scan_as_of(1700000070))
    assert _rows(fmt(start_snapshot_id="1", end_snapshot_id="2")) == _rows(
        t.scan_incremental(1, 2)
    )


def test_cross_spec_exclusion_rows(spark, tmp_path):
    """Partition-spec evolution between a dir's write and a later
    partition-scoped rewrite: the exclusion tuples are keyed by the NEW
    spec, which the old dir's name can't answer — the reader must
    re-derive them from data columns per row (the native scan's
    behavior), or the masked rows come back as duplicates."""
    from emr_apache_iceberg_workshop_spark.sources import dsv2
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string, part string"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl, partition_by=["part"])
    rows = [(1, "x", "a"), (2, "y", "a"), (3, "x", "b"), (4, "y", "b")]
    t.write(spark.createDataFrame(rows, ddl))
    t.evolve_partition_spec(["v"])
    # partition-scoped COW under the NEW spec: rewrites every v='x' row,
    # masking the old part-keyed dir with {'v': 'x'} exclusion tuples
    t.update_where("v = 'x'", {"id": "id + 100"})
    dsv2.register(spark)
    native = sorted(tuple(r) for r in t.scan().collect())
    fmt = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .load()
        .collect()
    )
    assert native == fmt
    assert sorted(r[0] for r in native) == [2, 4, 101, 103]
    # time travel to the pre-rewrite snapshot still sees the originals
    fmt1 = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .option("snapshot-id", "1")
        .load()
        .collect()
    )
    assert fmt1 == sorted(rows)


def test_renamed_former_partition_source_injection(spark, tmp_path):
    """A column that was an identity partition source (files store it only
    in the dir name), later removed from the spec and THEN renamed: the
    dsv2 reader must inject it from the dir name under its HISTORICAL
    key — the partition dict is keyed by the name at write time."""
    from emr_apache_iceberg_workshop_spark.sources import dsv2
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string, part string"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl, partition_by=["v"])
    t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], ddl))
    t.evolve_partition_spec(["part"])  # v leaves the spec...
    t.rename_column("v", "vv")  # ...so the rename is legal
    t.write(spark.createDataFrame([(3, "c", "z")], "id bigint, vv string, part string"))
    dsv2.register(spark)
    fmt = sorted(
        tuple(r)
        for r in spark.read.format(dsv2.FORMAT_NAME)
        .option("table", t.root)
        .load()
        .collect()
    )
    assert fmt == [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]
    assert fmt == sorted(tuple(r) for r in t.scan().collect())
