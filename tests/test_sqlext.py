"""SQL façade: the reference's literal spark.sql statements against
SnapshotTable (MERGE INTO shape from `bronze-silver.py:250-285`,
`.history` reads from `bronze-silver.py:116`, Iceberg-docs DML/CALL)."""

from __future__ import annotations

import os

import pytest

from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return SqlCatalog(spark, warehouse=str(tmp_path / "wh"))


def test_create_insert_select_roundtrip(spark, cat):
    cat.sql(
        """CREATE TABLE db.items (
               id BIGINT, category STRING, qty BIGINT
           ) USING iceberg
           PARTITIONED BY (category)
           TBLPROPERTIES ('write.merge.mode'='copy-on-write')"""
    )
    cat.sql("INSERT INTO db.items VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30)")
    got = cat.sql("SELECT category, SUM(qty) AS s FROM db.items GROUP BY category")
    assert {(r.category, r.s) for r in got.collect()} == {("a", 40), ("b", 20)}
    # INSERT INTO ... SELECT
    cat.sql("INSERT INTO db.items SELECT id + 10, category, qty FROM db.items")
    assert cat.sql("SELECT COUNT(*) AS n FROM db.items").first().n == 6


def test_reference_merge_statement_shape(spark, cat):
    """The reference's MERGE text (aliases, subquery dedup, explicit
    UPDATE SET / INSERT column lists) runs verbatim."""
    cat.sql("CREATE TABLE silver (invoiceid BIGINT, itemid BIGINT, category STRING)")
    cat.sql("INSERT INTO silver VALUES (1, 1, 'old'), (2, 1, 'keep')")
    spark.createDataFrame(
        [(1, 1, "new", 2), (1, 1, "stale", 1), (9, 9, "ins", 1)],
        "invoiceid bigint, itemid bigint, category string, processed_time bigint",
    ).createOrReplaceTempView("__temp_table")
    cat.sql(
        """
        MERGE INTO silver AS target
        USING (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY invoiceid ORDER BY processed_time DESC
                ) AS row_num FROM __temp_table
            ) AS deduped_source WHERE row_num = 1
        ) AS source
        ON target.invoiceid = source.invoiceid
           AND target.itemid = source.itemid
        WHEN MATCHED THEN
            UPDATE SET target.category = source.category
        WHEN NOT MATCHED THEN
            INSERT (invoiceid, itemid, category)
            VALUES (source.invoiceid, source.itemid, source.category)
        """
    )
    got = {(r.invoiceid, r.itemid): r.category
           for r in cat.sql("SELECT * FROM silver").collect()}
    assert got == {(1, 1): "new", (2, 1): "keep", (9, 9): "ins"}


def test_merge_with_cdc_delete_clause(spark, cat):
    cat.sql("CREATE TABLE tgt (k BIGINT, v STRING)")
    cat.sql("INSERT INTO tgt VALUES (1, 'a'), (2, 'b')")
    spark.createDataFrame(
        [(1, "a2", "U"), (2, "b", "D"), (3, "c", "I")],
        "k bigint, v string, Op string",
    ).createOrReplaceTempView("cdc_batch")
    cat.sql(
        """MERGE INTO tgt AS t USING cdc_batch AS s ON t.k = s.k
           WHEN MATCHED AND s.Op = 'D' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM tgt").collect()}
    assert got == {1: "a2", 3: "c"}


def test_delete_update_and_time_travel(spark, cat):
    cat.sql("CREATE TABLE t1 (id BIGINT, v STRING)")
    cat.sql("INSERT INTO t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sid1 = cat.table("t1").latest_snapshot_id()
    cat.sql("DELETE FROM t1 WHERE id = 2")
    cat.sql("UPDATE t1 SET v = 'patched' WHERE id = 3")
    got = {r.id: r.v for r in cat.sql("SELECT * FROM t1").collect()}
    assert got == {1: "a", 3: "patched"}
    # VERSION AS OF sees the pre-DML state
    old = cat.sql(f"SELECT COUNT(*) AS n FROM t1 VERSION AS OF {sid1}")
    assert old.first().n == 3
    # metadata suffix
    hist = cat.sql("SELECT operation FROM t1.history ORDER BY made_current_at")
    assert [r.operation for r in hist.collect()] == ["append", "delete", "update"]
    # .entries suffix: the UPDATE's rewrite ADDED a file this commit
    ent = cat.sql("SELECT status, COUNT(*) AS n FROM t1.entries GROUP BY status")
    assert {r.status for r in ent.collect()} >= {1}


def test_call_procedures_and_alter(spark, cat):
    cat.sql("CREATE TABLE t2 (id BIGINT, v STRING)")
    cat.sql("INSERT INTO t2 VALUES (1, 'a')")
    cat.sql("INSERT INTO t2 VALUES (2, 'b')")
    t = cat.table("t2")
    cat.sql("CALL system.rewrite_data_files('t2')")
    assert t.snapshots()[-1].operation == "compact"
    cat.sql("CALL sc.system.expire_snapshots(table => 't2', retain_last => 1)")
    assert len([s for s in t.snapshots()]) >= 1
    cat.sql("ALTER TABLE t2 ADD COLUMNS (w BIGINT)")
    assert "w" in t.schema().fieldNames()
    cat.sql("ALTER TABLE t2 DROP COLUMN w")
    assert "w" not in t.schema().fieldNames()
    cat.sql("ALTER TABLE t2 CREATE TAG audit")
    assert "audit" in t.tags()
    sid = t.latest_snapshot_id()
    cat.sql("INSERT INTO t2 VALUES (3, 'c')")
    staged = t.latest_snapshot_id()
    cat.sql(f"CALL system.rollback_to_snapshot('t2', {sid})")
    assert {r.id for r in cat.sql("SELECT * FROM t2").collect()} == {1, 2}
    # the rolled-back append can be re-applied on the new lineage
    cat.sql(f"CALL system.cherrypick_snapshot('t2', {staged})")
    assert {r.id for r in cat.sql("SELECT * FROM t2").collect()} == {1, 2, 3}


def test_hidden_partition_ddl(spark, cat):
    cat.sql(
        """CREATE TABLE ev (id BIGINT, ts TIMESTAMP, uid BIGINT)
           PARTITIONED BY (days(ts), bucket(4, uid))"""
    )
    cat.sql(
        "INSERT INTO ev VALUES (1, TIMESTAMP '2024-01-01 10:00:00', 7),"
        " (2, TIMESTAMP '2024-01-02 11:00:00', 8)"
    )
    t = cat.table("ev")
    s1 = os.path.join(t.root, "data", "s1")
    assert any(d.startswith("ts_day=") for d in os.listdir(s1))
    assert cat.sql("SELECT COUNT(*) AS n FROM ev WHERE uid = 7").first().n == 1
    cat.sql("ALTER TABLE ev ADD PARTITION FIELD months(ts)")
    assert "months(ts)" in t._load()["partition_by"]


def test_catalog_registrations_persist_across_sessions(spark, tmp_path):
    """A warehouse-backed catalog is DURABLE (the Glue behavior the
    reference inherits): a fresh SqlCatalog over the same warehouse sees
    every table the previous one created; DROP persists too."""
    wh = str(tmp_path / "wh")
    cat1 = SqlCatalog(spark, warehouse=wh)
    cat1.sql("CREATE TABLE db.t1 (id BIGINT)")
    cat1.sql("INSERT INTO db.t1 VALUES (1), (2)")
    cat1.sql("CREATE TABLE t2 (id BIGINT)")

    cat2 = SqlCatalog(spark, warehouse=wh)
    assert cat2.sql("SELECT COUNT(*) AS n FROM db.t1").first().n == 2
    names = {r.table_name for r in cat2.sql("SHOW TABLES").collect()}
    assert names == {"db.t1", "t2"}
    cat2.sql("DROP TABLE t2")

    cat3 = SqlCatalog(spark, warehouse=wh)
    assert {r.table_name for r in cat3.sql("SHOW TABLES").collect()} == {"db.t1"}
    # ALTER TABLE ... RENAME TO re-keys the catalog (persistently)
    cat3.sql("ALTER TABLE db.t1 RENAME TO db.orders_v2")
    assert cat3.sql("SELECT COUNT(*) AS n FROM db.orders_v2").first().n == 2
    with pytest.raises(Exception, match="t1"):
        cat3.sql("SELECT * FROM db.t1")  # old name unresolvable
    cat3b = SqlCatalog(spark, warehouse=wh)
    assert {r.table_name for r in cat3b.sql("SHOW TABLES").collect()} == {"db.orders_v2"}
    # a catalog without a warehouse stays session-local
    cat4 = SqlCatalog(spark)
    cat4.register("x", str(tmp_path / "nope"))  # no crash, nothing persisted
    assert SqlCatalog(spark).sql("SHOW TABLES").count() == 0


def test_show_create_table_roundtrip(spark, cat):
    """SHOW CREATE TABLE regenerates runnable Iceberg DDL: re-executing
    it (under a new name) reproduces schema, partition spec, and
    properties."""
    cat.sql(
        """CREATE TABLE src (id BIGINT, ts TIMESTAMP, v STRING)
           USING iceberg PARTITIONED BY (days(ts), bucket(4, id))
           TBLPROPERTIES ('write.merge.mode'='merge-on-read')"""
    )
    ddl = cat.sql("SHOW CREATE TABLE src").first().createtab_stmt
    assert "PARTITIONED BY (days(ts), bucket(4, id))" in ddl
    assert "'write.merge.mode' = 'merge-on-read'" in ddl
    cat.sql(ddl.replace("CREATE TABLE src", "CREATE TABLE dst", 1))
    t_src, t_dst = cat.table("src"), cat.table("dst")
    assert t_src.schema() == t_dst.schema()
    assert t_src._load()["partition_by"] == t_dst._load()["partition_by"]
    assert t_dst.properties()["write.merge.mode"] == "merge-on-read"


def test_string_literals_survive_read_rewrite(spark, cat):
    """A registered table name INSIDE a string literal is data, not a
    table reference — the rewrite must leave it verbatim (this used to
    silently substitute `'orders'` → `'__sqlext_N'`)."""
    cat.sql("CREATE TABLE orders (id BIGINT, src STRING)")
    cat.sql("INSERT INTO orders VALUES (1, 'orders'), (2, 'web'), (3, 'orders')")
    got = cat.sql("SELECT COUNT(*) AS n FROM orders WHERE src = 'orders'")
    assert got.first().n == 2
    # literal in a SELECT projection too
    rows = cat.sql(
        "SELECT id, 'orders' AS tag FROM orders WHERE src <> 'orders'"
    ).collect()
    assert [(r.id, r.tag) for r in rows] == [(2, "orders")]
    # the bare reference outside quotes IS still rewritten
    assert cat.sql("SELECT COUNT(*) AS n FROM orders").first().n == 3


def test_call_fast_forward_iceberg_shape(spark, cat):
    """CALL system.fast_forward('t', 'main', 'audit') — the Iceberg arg
    shape end-to-end: stage on a branch, publish by fast-forwarding main."""
    cat.sql("CREATE TABLE ff (id BIGINT, v STRING)")
    cat.sql("INSERT INTO ff VALUES (1, 'a')")
    t = cat.table("ff")
    t.write(spark.createDataFrame([(2, "b")], "id bigint, v string"), branch="audit")
    # main still sees only the published row
    assert cat.sql("SELECT COUNT(*) AS n FROM ff").first().n == 1
    cat.sql("CALL system.fast_forward('ff', 'main', 'audit')")
    assert {r.id for r in cat.sql("SELECT * FROM ff").collect()} == {1, 2}
    with pytest.raises(ValueError, match="Iceberg CALL shape"):
        cat.sql("CALL system.fast_forward('ff', 'main')")


def test_unsupported_statements_raise(spark, cat):
    cat.sql("CREATE TABLE t3 (id BIGINT)")
    with pytest.raises(ValueError, match="unsupported"):
        cat.sql("TRUNCATE TABLE t3")
    with pytest.raises(ValueError, match="unsupported MERGE ON"):
        cat.sql(
            """MERGE INTO t3 AS t USING t3 AS s ON t.id > s.id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *"""
        )
    with pytest.raises(ValueError, match="unknown table"):
        cat.sql("DELETE FROM nope WHERE true")


def test_rename_column_sql(spark, cat):
    cat.sql("CREATE TABLE t4 (id BIGINT, amount BIGINT)")
    cat.sql("INSERT INTO t4 VALUES (1, 10)")
    cat.sql("ALTER TABLE t4 RENAME COLUMN amount TO qty")
    got = cat.sql("SELECT id, qty FROM t4").collect()
    assert [(r.id, r.qty) for r in got] == [(1, 10)]


def test_set_tblproperties_and_write_ordered_by(spark, cat):
    """Property DDL: SET TBLPROPERTIES and the Iceberg write-order DDL
    both version the metadata without a snapshot, and the sort order
    applies to FUTURE writes (per-file min/max become disjoint)."""
    cat.sql("CREATE TABLE tp (id BIGINT, v STRING)")
    t = cat.table("tp")
    cat.sql("ALTER TABLE tp SET TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    assert t.properties()["write.merge.mode"] == "merge-on-read"
    n_snaps = len(t.snapshots())
    cat.sql("ALTER TABLE tp WRITE DISTRIBUTED BY PARTITION ORDERED BY id")
    assert t.properties()["write.sort-order"] == "id"
    assert t.properties()["write.distribution-mode"] == "hash"
    assert len(t.snapshots()) == n_snaps  # metadata-only, no snapshot

    cat.sql("INSERT INTO tp VALUES (3, 'c'), (1, 'a'), (2, 'b')")
    got = [r.id for r in cat.sql("SELECT id FROM tp ORDER BY id").collect()]
    assert got == [1, 2, 3]


def test_changes_suffix(spark, cat):
    cat.sql(
        "CREATE TABLE ch (id BIGINT, v STRING)"
        " TBLPROPERTIES ('write.merge.mode'='merge-on-read')"
    )
    cat.sql("INSERT INTO ch VALUES (1, 'a'), (2, 'b')")
    spark.createDataFrame([(1, "a2")], "id bigint, v string").createOrReplaceTempView(
        "up"
    )
    cat.sql(
        """MERGE INTO ch AS t USING up AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""
    )
    got = cat.sql(
        "SELECT _change_type, COUNT(*) AS n FROM ch.changes GROUP BY _change_type"
    ).collect()
    counts = {r._change_type: r.n for r in got}
    # 2 appends + 1 upsert insert, 1 pre-image delete for the update
    assert counts == {"insert": 3, "delete": 1}


def test_ctas_insert_overwrite_describe_show(spark, cat):
    """CTAS derives the schema from the SELECT; INSERT OVERWRITE replaces
    the state in a new snapshot (time travel still sees the old one);
    DESCRIBE/SHOW TBLPROPERTIES read the metadata."""
    cat.sql("CREATE TABLE src (id BIGINT, grp STRING, qty BIGINT)")
    cat.sql("INSERT INTO src VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    cat.sql(
        """CREATE TABLE agg USING iceberg
           TBLPROPERTIES ('write.merge.mode'='copy-on-write')
           AS SELECT grp, SUM(qty) AS total FROM src GROUP BY grp"""
    )
    got = {(r.grp, r.total) for r in cat.sql("SELECT * FROM agg").collect()}
    assert got == {("a", 30), ("b", 30)}
    assert cat.table("agg").properties()["write.merge.mode"] == "copy-on-write"

    sid = cat.table("agg").latest_snapshot_id()
    cat.sql("INSERT OVERWRITE agg SELECT grp, SUM(qty) * 2 AS total FROM src GROUP BY grp")
    got = {(r.grp, r.total) for r in cat.sql("SELECT * FROM agg").collect()}
    assert got == {("a", 60), ("b", 60)}
    # the pre-overwrite snapshot is still readable
    old = cat.sql(f"SELECT SUM(total) AS s FROM agg VERSION AS OF {sid}")
    assert old.first().s == 60

    desc = cat.sql("DESCRIBE TABLE agg").collect()
    assert [(r.col_name, r.data_type) for r in desc][:2] == [
        ("grp", "string"), ("total", "bigint"),
    ]
    props = {r.key: r.value for r in cat.sql("SHOW TBLPROPERTIES agg").collect()}
    assert props["write.merge.mode"] == "copy-on-write"

    # partitioned CTAS writes hive layout
    cat.sql("CREATE TABLE aggp PARTITIONED BY (grp) AS SELECT grp, qty FROM src")
    import os as _os

    t = cat.table("aggp")
    data = _os.path.join(t.root, "data")
    sdirs = [_os.path.join(data, s) for s in _os.listdir(data)]
    assert any(
        x.startswith("grp=") for s in sdirs for x in _os.listdir(s)
    )


def test_show_tables_and_drop(spark, cat):
    import os as _os

    cat.sql("CREATE TABLE d1 (id BIGINT)")
    cat.sql("CREATE TABLE d2 (id BIGINT)")
    names = {r.table_name for r in cat.sql("SHOW TABLES").collect()}
    assert {"d1", "d2"} <= names
    root = cat.table("d1").root
    cat.sql("DROP TABLE d1")  # forgets the entry, keeps the files
    assert _os.path.isdir(root)
    # the name no longer rewrites to the table; spark.sql resolves it
    # as an ordinary (missing) relation
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        cat.sql("SELECT * FROM d1").collect()
    root2 = cat.table("d2").root
    cat.sql("DROP TABLE d2 PURGE")  # deletes files too
    assert not _os.path.isdir(root2)
    cat.sql("DROP TABLE IF EXISTS d2")  # idempotent
    with pytest.raises(ValueError, match="unknown table"):
        cat.sql("DROP TABLE d2")


def test_call_vacuum(spark, cat):
    cat.sql("CREATE TABLE vt (id BIGINT)")
    for i in range(4):
        cat.sql(f"INSERT INTO vt VALUES ({i})")
    rep = cat.sql("CALL system.vacuum(table => 'vt', retain_last => 1,"
                  " max_files_per_partition => 2)")
    assert rep["compacted_snapshot_id"] is not None
    assert {r.id for r in cat.sql("SELECT * FROM vt").collect()} == {0, 1, 2, 3}


def test_merge_computed_assignments(spark, cat):
    """Extension beyond the reference's identity-only MERGE: expression
    RHS over both aliases (`SET t.qty = t.qty + s.qty`)."""
    cat.sql("CREATE TABLE inv (id BIGINT, qty BIGINT, note STRING)")
    cat.sql("INSERT INTO inv VALUES (1, 10, 'x'), (2, 20, 'y')")
    spark.createDataFrame(
        [(1, 5, "ignored"), (3, 7, "new")], "id bigint, qty bigint, note string"
    ).createOrReplaceTempView("inv_batch")
    cat.sql(
        """MERGE INTO inv AS t USING inv_batch AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET
               t.qty = t.qty + s.qty,
               t.note = concat(t.note, '+', s.note)
           WHEN NOT MATCHED THEN INSERT *"""
    )
    got = {r.id: (r.qty, r.note) for r in cat.sql("SELECT * FROM inv").collect()}
    assert got == {1: (15, "x+ignored"), 2: (20, "y"), 3: (7, "new")}


def test_merge_partial_set_keeps_target_columns(spark, cat):
    """A partial identity SET keeps UNLISTED columns at their target
    value (ANSI MERGE), instead of replacing the whole row."""
    cat.sql("CREATE TABLE pp (id BIGINT, a STRING, b STRING)")
    cat.sql("INSERT INTO pp VALUES (1, 'a1', 'b1')")
    spark.createDataFrame(
        [(1, "A1", "CLOBBER"), (2, "a2", "b2")], "id bigint, a string, b string"
    ).createOrReplaceTempView("pp_batch")
    cat.sql(
        """MERGE INTO pp AS t USING pp_batch AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET t.a = s.a
           WHEN NOT MATCHED THEN INSERT *"""
    )
    got = {r.id: (r.a, r.b) for r in cat.sql("SELECT * FROM pp").collect()}
    assert got == {1: ("A1", "b1"), 2: ("a2", "b2")}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_cardinality_violation(spark, cat, mode):
    """Spark's MERGE rule: a target row matched by two USING rows raises
    MERGE_CARDINALITY_VIOLATION and commits nothing; duplicate UNMATCHED
    keys are no violation, and each of their rows inserts."""
    cat.sql(f"CREATE TABLE cv (id BIGINT, v STRING) TBLPROPERTIES ('write.merge.mode'='{mode}')")
    cat.sql("INSERT INTO cv VALUES (1, 'a'), (2, 'b')")
    stmt = """MERGE INTO cv AS t USING cv_batch AS s ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *"""
    ddl = "id bigint, v string"
    spark.createDataFrame([(1, "x"), (1, "y"), (3, "c")], ddl).createOrReplaceTempView("cv_batch")
    n = len(cat.table("cv").snapshots())
    with pytest.raises(ValueError, match="MERGE_CARDINALITY_VIOLATION"):
        cat.sql(stmt)
    assert len(cat.table("cv").snapshots()) == n
    assert sorted(cat.sql("SELECT * FROM cv").collect()) == [(1, "a"), (2, "b")]
    spark.createDataFrame([(1, "x"), (5, "n1"), (5, "n2")], ddl).createOrReplaceTempView("cv_batch")
    cat.sql(stmt)
    assert sorted(cat.sql("SELECT * FROM cv").collect()) == [
        (1, "x"), (2, "b"), (5, "n1"), (5, "n2"),
    ]


def test_merge_computed_with_delete_clause(spark, cat):
    """Computed assignments compose with the CDC delete branch."""
    cat.sql("CREATE TABLE cw (k BIGINT, n BIGINT)")
    cat.sql("INSERT INTO cw VALUES (1, 100), (2, 200)")
    spark.createDataFrame(
        [(1, 1, "U"), (2, 2, "D"), (3, 3, "I")], "k bigint, n bigint, Op string"
    ).createOrReplaceTempView("cw_batch")
    cat.sql(
        """MERGE INTO cw AS t USING cw_batch AS s ON t.k = s.k
           WHEN MATCHED AND s.Op = 'D' THEN DELETE
           WHEN MATCHED THEN UPDATE SET t.n = t.n + s.n
           WHEN NOT MATCHED THEN INSERT *"""
    )
    got = {r.k: r.n for r in cat.sql("SELECT * FROM cw").collect()}
    assert got == {1: 101, 3: 3}


def test_merge_unknown_set_column_raises(spark, cat):
    cat.sql("CREATE TABLE uk (id BIGINT, v STRING)")
    cat.sql("INSERT INTO uk VALUES (1, 'a')")
    spark.createDataFrame([(1, "b")], "id bigint, v string").createOrReplaceTempView(
        "uk_batch"
    )
    with pytest.raises(ValueError, match="unknown column"):
        cat.sql(
            """MERGE INTO uk AS t USING uk_batch AS s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.nope = s.v || 'x'
               WHEN NOT MATCHED THEN INSERT *"""
        )


def test_concurrent_catalog_persist_merges(spark, tmp_path):
    """Two sessions on one warehouse: each registration is a merged
    DELTA into _catalog.json, not a whole-map overwrite — neither
    session's tables are lost, and a DROP in one is not resurrected by
    a later persist in the other."""
    wh = str(tmp_path / "wh2")
    a = SqlCatalog(spark, warehouse=wh)
    b = SqlCatalog(spark, warehouse=wh)  # opened BEFORE a registers
    a.sql("CREATE TABLE ta (id BIGINT)")
    b.sql("CREATE TABLE tb (id BIGINT)")  # b never saw ta in memory
    fresh = SqlCatalog(spark, warehouse=wh)
    assert {"ta", "tb"} <= set(fresh._tables)
    # drop in one session; a later persist from the other must not
    # resurrect the dropped entry
    a.sql("DROP TABLE tb")
    b.sql("CREATE TABLE tc (id BIGINT)")
    fresh2 = SqlCatalog(spark, warehouse=wh)
    assert "tb" not in fresh2._tables and {"ta", "tc"} <= set(fresh2._tables)


def test_merge_computed_insert_values(spark, cat):
    """INSERT (cols) VALUES (exprs) with computed values and a partial
    column list: expressions evaluate against the source alias, unlisted
    columns insert NULL (ANSI) — never silently treated as INSERT *."""
    cat.sql("CREATE TABLE iv (id BIGINT, qty BIGINT, tag STRING)")
    cat.sql("INSERT INTO iv VALUES (1, 10, 'old')")
    spark.createDataFrame(
        [(1, 5), (2, 7)], "id bigint, qty bigint"
    ).createOrReplaceTempView("iv_batch")
    cat.sql(
        """MERGE INTO iv AS t USING iv_batch AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET t.qty = t.qty + s.qty
           WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (s.id, s.qty * 100)"""
    )
    got = {r.id: (r.qty, r.tag) for r in cat.sql("SELECT * FROM iv").collect()}
    assert got == {1: (15, "old"), 2: (700, None)}


def test_merge_set_star_with_computed_insert(spark, cat):
    """UPDATE SET * composes with a computed INSERT clause (matched rows
    take the whole source row; unmatched rows take the VALUES exprs)."""
    cat.sql("CREATE TABLE sv (id BIGINT, v STRING)")
    cat.sql("INSERT INTO sv VALUES (1, 'a')")
    spark.createDataFrame(
        [(1, "a2"), (2, "b")], "id bigint, v string"
    ).createOrReplaceTempView("sv_batch")
    cat.sql(
        """MERGE INTO sv AS t USING sv_batch AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, upper(s.v))"""
    )
    got = {r.id: r.v for r in cat.sql("SELECT * FROM sv").collect()}
    assert got == {1: "a2", 2: "B"}


def test_analyze_statement_and_procedure(spark, tmp_path):
    """ANALYZE TABLE and CALL system.compute_table_stats both route to
    the KMV stats service; stats are versioned properties, exact below
    the sketch size, and the estimator is within KMV error above it."""
    import json

    from pyspark.sql import types as T

    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("seg", T.StringType())]
    )
    t = SnapshotTable.create(spark, str(tmp_path / "an"), schema)
    rows = [(i, f"s{i % 5}" if i % 10 else None) for i in range(300)]
    t.write(spark.createDataFrame(rows, schema), mode="append")
    cat = SqlCatalog(spark)
    cat.register("an", t.root)
    cat.sql("ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS seg")
    s = json.loads(t.properties()["stats.seg"])
    # 5 distinct non-null values + 30 nulls: exact below the sketch size
    assert (s["sample_size"], s["ndv_est"], s["null_count"], s["row_count"]) == (
        5, 5, 30, 300,
    )
    # procedure form, all columns; id has 300 distinct > k=64 -> estimator
    cat.sql("CALL system.compute_table_stats('an')")
    sid = json.loads(t.properties()["stats.id"])
    assert sid["sample_size"] == 64
    assert 150 <= sid["ndv_est"] <= 600  # KMV error band around 300
    with pytest.raises(Exception, match="unknown columns"):
        cat.sql("ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS nope")


def test_position_deletes_meta_table_sql(spark, cat, tmp_path):
    """`SELECT * FROM t.position_deletes` through the facade."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint, v string"
    t = SnapshotTable.create(
        spark, str(tmp_path / "pd"), ddl,
        properties={"write.delete.mode": "merge-on-read",
                    "write.delete.style": "position"},
    )
    t.write(spark.createDataFrame([(i, "x") for i in range(4)], ddl)
            .coalesce(1).sortWithinPartitions("id"))
    t.delete_where("id >= 3")
    cat.register("pd", t.root)
    rows = cat.sql("SELECT * FROM pd.position_deletes").collect()
    assert [r["pos"] for r in rows] == [3]
