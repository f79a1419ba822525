"""Structured Streaming jobs driven to completion with AvailableNow."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emr_apache_iceberg_workshop_spark.streaming import (
    run_windowed_agg_available_now,
    sessionize_stateful,
    stream_ingest_available_now,
)

TSV_HEADER = "event_id\tts\tuser_id\tevent_type\tvalue"


def _write_tsv(path: str, rows: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(TSV_HEADER + "\n" + "\n".join(rows) + "\n")


def test_available_now_ingest_exactly_once(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    _write_tsv(
        f"{inp}/b1.csv",
        [
            "1\t2024-01-01 00:00:00\t10\tclick\t1.5",
            "2\t2024-01-01 00:05:00\t10\tview\t2.0",
        ],
    )
    assert stream_ingest_available_now(spark, inp, out, ckpt) == 2
    assert spark.read.parquet(out).count() == 2

    # re-run with no new files: exactly-once, nothing reprocessed
    assert stream_ingest_available_now(spark, inp, out, ckpt) == 0
    assert spark.read.parquet(out).count() == 2

    # new file → only its rows processed
    _write_tsv(f"{inp}/b2.csv", ["3\t2024-01-01 01:00:00\t11\tclick\t0.5"])
    assert stream_ingest_available_now(spark, inp, out, ckpt) == 1
    df = spark.read.parquet(out)
    assert df.count() == 3
    assert df.filter(F.col("input_file").contains("b2.csv")).count() == 1


def test_windowed_agg_matches_batch(spark, tmp_path):
    # stream the events parquet (µs-normalized) and compare to a batch agg
    from emr_apache_iceberg_workshop_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_parquet")
    ev.write.parquet(src)

    out = run_windowed_agg_available_now(
        spark, src, str(tmp_path / "ckpt"), query_name="win_test"
    )
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()}
    want = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_stateful_sessionization_closed_sessions(spark, tmp_path):
    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        df.write.parquet(str(tmp_path / "in" / name))

    def run_trigger():
        src = spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        ).option("pathGlobFilter", "*.parquet").parquet(str(tmp_path / "in" / "*"))
        q = (
            sessionize_stateful(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "user_id long, session_no long, n_events long, session_start double, session_end double"
        ).parquet(str(tmp_path / "out")).collect()

    write_batch(
        "b1",
        [
            (1, "2024-01-01 00:00:00", 7, "click", 1.0),
            (2, "2024-01-01 00:10:00", 7, "click", 1.0),  # same session (gap 10m)
            (3, "2024-01-01 01:00:00", 7, "click", 1.0),  # gap 50m → closes session 0
            (4, "2024-01-01 00:00:00", 8, "view", 1.0),   # other user, stays open
        ],
    )
    closed = run_trigger()
    assert len(closed) == 1
    r = closed[0]
    assert (r["user_id"], r["session_no"], r["n_events"]) == (7, 0, 2)
    assert r["session_end"] - r["session_start"] == 600.0

    # second trigger: state persisted across runs — a late event for user 8
    # beyond the gap closes user 8's open 1-event session
    write_batch("b2", [(5, "2024-01-01 02:00:00", 8, "view", 1.0)])
    closed2 = run_trigger()
    assert {(r["user_id"], r["session_no"], r["n_events"]) for r in closed2} >= {(8, 0, 1)}


def test_stream_cdc_upsert_converges_and_is_exactly_once(spark, tmp_path):
    """Streaming bronze→silver on the reference CDC fixture: 5 I rows, then
    a 2-row U batch → latest-wins table state; re-running with no new files
    changes nothing (file-source checkpoint)."""
    from emr_apache_iceberg_workshop_spark.streaming import stream_cdc_upsert

    cdc_header = (
        "Op\treplicadmstimestamp\tinvoiceid\titemid\tcategory\tprice\tquantity"
        "\torderdate\tdestinationstate\tshippingtype\treferral"
    )
    initial = [
        "I\t2024-06-27 14:36:25.103244\t40994\t67\tmarket\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
        "I\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage\t97.07\t3\t2021-09-10\tSC\tStandard\tplay",
        "I\t2024-02-16 15:30:41.041474\t24137\t34\tdegree\t53.51\t1\t2023-03-29\tSC\t3-Day\tbook",
    ]
    updates = [
        "U\t2024-11-01 10:00:00.000000\t40994\t67\tmarket####\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
        "D\t2024-11-01 10:00:01.000000\t24137\t34\tdegree\t53.51\t1\t2023-03-29\tSC\t3-Day\tbook",
    ]
    inp, tbl, ckpt = (str(tmp_path / d) for d in ("in", "table", "ckpt"))

    def write(name, rows):
        os.makedirs(inp, exist_ok=True)
        with open(f"{inp}/{name}", "w") as f:
            f.write(cdc_header + "\n" + "\n".join(rows) + "\n")

    write("b1.csv", initial)
    t = stream_cdc_upsert(spark, inp, tbl, ckpt, op_col="Op")
    assert t.scan().count() == 3
    snap1 = t.latest_snapshot_id()

    # no new files → no new snapshot (exactly-once on the file source)
    stream_cdc_upsert(spark, inp, tbl, ckpt, op_col="Op")
    assert t.latest_snapshot_id() == snap1

    # update batch: U overwrites category, D deletes its key
    write("b2.csv", updates)
    stream_cdc_upsert(spark, inp, tbl, ckpt, op_col="Op")
    rows = {(r.invoiceid, r.itemid): r.category for r in t.scan().collect()}
    assert rows == {(40994, 67): "market####", (83597, 37): "language"}

    # MOR microbatch cost scales with the BATCH, not the table: the merge
    # snapshot's data dir holds only the batch's single upsert (the D row
    # lands in the delete file), and no earlier data dir was rewritten
    last = t.snapshots()[-1]
    assert last.operation == "merge" and last.delete_file
    merged_dir = os.path.join(tbl, last.dirs[0])
    assert spark.read.parquet(merged_dir).count() == 1
    assert spark.read.parquet(os.path.join(tbl, last.delete_file)).count() == 2


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Watermarked interval join (clicks→purchases within 1h) produces the
    same pairs as the equivalent batch join over sf0.001 events."""
    from emr_apache_iceberg_workshop_spark.catalog import load_table
    from emr_apache_iceberg_workshop_spark.streaming import run_attribution_available_now

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_parquet")
    ev.write.parquet(src)

    out = run_attribution_available_now(spark, src, str(tmp_path / "ckpt"))

    c = ev.filter(F.col("event_type") == "click").selectExpr(
        "ts AS click_ts", "user_id", "event_id AS click_id"
    )
    p = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "ts AS purchase_ts", "user_id", "event_id AS purchase_id"
    )
    batch = c.join(p, "user_id").filter(
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    got = {(r.click_id, r.purchase_id) for r in out.collect()}
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got and got == want


def test_stream_dedup_first_wins_and_exactly_once(spark, tmp_path):
    """Re-delivered rows (same event_id) are dropped; a second run over the
    same checkpoint writes nothing new; result matches batch distinct."""
    from emr_apache_iceberg_workshop_spark.streaming.jobs import (
        EVENTS_DDL,
        stream_dedup_available_now,
    )

    src = str(tmp_path / "dup_events")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    rows = [
        (i, f"2024-01-01 0{i % 5}:00:00", i % 3, "view", float(i))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        [(e, t, u, ty, v) for e, t, u, ty, v in rows] + rows[:7],  # 7 re-deliveries
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS timestamp_ntz) AS ts", "user_id", "event_type", "value"
    )
    df.coalesce(2).write.parquet(src)

    stream_dedup_available_now(spark, src, out, ckpt)
    got = spark.read.schema(EVENTS_DDL).parquet(out)
    assert got.count() == 20
    assert got.select("event_id").distinct().count() == 20
    # batch twin: same surviving key set
    batch = df.dropDuplicates(["event_id"])
    assert got.select("event_id").subtract(batch.select("event_id")).count() == 0

    # exactly-once: rerun over the same checkpoint is a no-op
    n2 = stream_dedup_available_now(spark, src, out, ckpt)
    assert n2 == 0
    assert spark.read.schema(EVENTS_DDL).parquet(out).count() == 20


def test_apply_cdc_batch_replay_skipped(spark, tmp_path):
    """At-least-once replay of a committed microbatch is SKIPPED: the
    batch id is stamped into the merge commit atomically, so a re-applied
    batch produces no new snapshot and no duplicate work."""
    from emr_apache_iceberg_workshop_spark.streaming.jobs import apply_cdc_batch
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    tbl = str(tmp_path / "tbl")
    ddl = "k bigint, ts string, v string"
    b0 = spark.createDataFrame([(1, "t1", "a"), (2, "t1", "b")], ddl)
    b1 = spark.createDataFrame([(1, "t2", "a2")], ddl)

    assert apply_cdc_batch(spark, b0, 0, tbl, ["k"], order_col="ts")
    t = SnapshotTable(spark, tbl)
    n0 = len(t.snapshots())
    assert t.snapshots()[-1].summary["streaming.batch-id"] == 0

    # replay batch 0 (crash after commit, before checkpoint): skipped
    assert apply_cdc_batch(spark, b0, 0, tbl, ["k"], order_col="ts") is False
    assert len(t.snapshots()) == n0

    # next batch applies normally
    assert apply_cdc_batch(spark, b1, 1, tbl, ["k"], order_col="ts")
    assert len(t.snapshots()) == n0 + 1
    assert {r.k: r.v for r in t.scan().collect()} == {1: "a2", 2: "b"}

    # empty batch: no commit either way
    empty = spark.createDataFrame([], ddl)
    assert apply_cdc_batch(spark, empty, 2, tbl, ["k"], order_col="ts") is False


def test_apply_cdc_batch_scope_isolates_checkpoint_restarts(spark, tmp_path):
    """The replay guard is scoped to the streaming query: a stream
    restarted on a FRESH checkpoint (batch ids restart at 0) applies its
    batch 0 instead of having it silently dropped, while a same-scope
    replay is still skipped and an unscoped commit guards no scope."""
    from emr_apache_iceberg_workshop_spark.streaming.jobs import apply_cdc_batch
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    tbl = str(tmp_path / "tbl")
    ddl = "k bigint, ts string, v string"
    b0 = spark.createDataFrame([(1, "t1", "a")], ddl)
    b1 = spark.createDataFrame([(2, "t2", "b")], ddl)
    b2 = spark.createDataFrame([(1, "t3", "a2")], ddl)

    # first run: scope A commits batches 0 and 1
    assert apply_cdc_batch(spark, b0, 0, tbl, ["k"], order_col="ts", scope="qA")
    assert apply_cdc_batch(spark, b1, 1, tbl, ["k"], order_col="ts", scope="qA")
    t = SnapshotTable(spark, tbl)
    n = len(t.snapshots())
    # same-scope replay of batch 1: skipped
    assert apply_cdc_batch(spark, b1, 1, tbl, ["k"], order_col="ts", scope="qA") is False
    assert len(t.snapshots()) == n

    # fresh checkpoint = new scope: its batch 0 MUST be applied
    assert apply_cdc_batch(spark, b2, 0, tbl, ["k"], order_col="ts", scope="qB")
    assert {r.k: r.v for r in t.scan().collect()} == {1: "a2", 2: "b"}
    assert t.snapshots()[-1].summary["streaming.query-scope"] == "qB"

    # an unscoped commit is another writer's history: scope qC commits
    tbl2 = str(tmp_path / "tbl2")
    assert apply_cdc_batch(spark, b0, 5, tbl2, ["k"], order_col="ts")  # unscoped
    assert apply_cdc_batch(spark, b1, 3, tbl2, ["k"], order_col="ts", scope="qC") is True


def test_apply_cdc_batch_unscoped_commit_never_swallows_fresh_scope(spark, tmp_path):
    """One unscoped batch 5 must not mark a fresh stream's batches 0..2
    (scope qNew) as replays: each commits, and a same-scope replay is
    still skipped."""
    from emr_apache_iceberg_workshop_spark.streaming.jobs import apply_cdc_batch
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    tbl = str(tmp_path / "tbl")
    ddl = "k bigint, ts string, v string"
    rows = [spark.createDataFrame([(k, f"t{k}", f"v{k}")], ddl) for k in range(4)]
    assert apply_cdc_batch(spark, rows[3], 5, tbl, ["k"], order_col="ts")  # unscoped
    for b in range(3):
        assert apply_cdc_batch(spark, rows[b], b, tbl, ["k"], order_col="ts", scope="qNew")
    assert apply_cdc_batch(spark, rows[2], 2, tbl, ["k"], order_col="ts", scope="qNew") is False
    t = SnapshotTable(spark, tbl)
    assert sorted(r.k for r in t.scan().collect()) == [0, 1, 2, 3]
    assert t.max_stream_batch_id("qNew") == 2 and t.max_stream_batch_id(None) == 5


def test_stream_append_table_exactly_once(spark, tmp_path):
    """Generic insert-only streaming sink into a SnapshotTable: drain,
    re-run same checkpoint (no-op), land more files and drain again —
    no duplicates, no losses, snapshot history is per-batch appends."""
    import json as _json
    import os as _os

    from emr_apache_iceberg_workshop_spark.streaming.jobs import stream_append_table

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    ddl = "k bigint, v string"
    _os.makedirs(src)

    def land(name, rows):
        with open(_os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    land("a.json", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])

    def run():
        stream = spark.readStream.schema(ddl).json(src)
        return stream_append_table(spark, stream, tbl, cp)

    t = run()
    assert {r.k for r in t.scan().collect()} == {1, 2}
    n = len(t.snapshots())
    # same checkpoint, no new data: no-op
    t = run()
    assert len(t.snapshots()) == n
    # more files: appended exactly once
    land("b.json", [{"k": 3, "v": "c"}])
    t = run()
    assert {r.k for r in t.scan().collect()} == {1, 2, 3}
    assert t.snapshots()[-1].summary["streaming.batch-id"] >= 1
    assert "streaming.query-scope" in t.snapshots()[-1].summary
    # every commit is an append (no merges, no rewrites)
    assert {s.operation for s in t.snapshots()} == {"append"}


def test_two_streams_one_table_no_lost_batches(spark, tmp_path):
    """Two independent CDC streams (distinct scopes, overlapping batch
    ids) feed ONE table: the scoped replay guard keeps both streams'
    batches (ids overlap but scopes differ) and the optimistic commit
    protocol serializes the merges — no lost updates, latest-wins state."""
    from emr_apache_iceberg_workshop_spark.streaming.jobs import apply_cdc_batch
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    tbl = str(tmp_path / "tbl")
    ddl = "k bigint, ts string, v string"
    # stream A batches 0,1 and stream B batches 0,1 — interleaved
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(1, "t1", "a")], ddl), 0, tbl, ["k"],
        order_col="ts", scope="sA",
    )
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(2, "t1", "b")], ddl), 0, tbl, ["k"],
        order_col="ts", scope="sB",
    )
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(1, "t2", "a2")], ddl), 1, tbl, ["k"],
        order_col="ts", scope="sA",
    )
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(3, "t2", "c")], ddl), 1, tbl, ["k"],
        order_col="ts", scope="sB",
    )
    # replays within each scope are skipped
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(1, "t2", "a2")], ddl), 1, tbl, ["k"],
        order_col="ts", scope="sA",
    ) is False
    assert apply_cdc_batch(
        spark, spark.createDataFrame([(3, "t2", "c")], ddl), 1, tbl, ["k"],
        order_col="ts", scope="sB",
    ) is False
    t = SnapshotTable(spark, tbl)
    assert {r.k: r.v for r in t.scan().collect()} == {1: "a2", 2: "b", 3: "c"}
    scopes = [
        s.summary.get("streaming.query-scope")
        for s in t.snapshots()
        if s.summary.get("streaming.batch-id") is not None
    ]
    assert sorted(scopes) == ["sA", "sA", "sB", "sB"]


def test_checkpoint_scope_reads_query_id(tmp_path):
    """_checkpoint_scope: adopts the persisted streaming query id when
    present; when absent it CREATES <checkpoint>/metadata with a fresh id
    (which Spark then adopts on start), so pre-start and post-start calls
    resolve the SAME scope — no path-fallback scope that a restart's
    query-id scope would fail to match (ADVICE r11)."""
    import json as _json
    import os as _os

    from emr_apache_iceberg_workshop_spark.streaming.jobs import _checkpoint_scope

    cp = str(tmp_path / "cp")
    first = _checkpoint_scope(cp)  # pre-start: creates the metadata file
    assert first != _os.path.abspath(cp)
    with open(_os.path.join(cp, "metadata")) as f:
        assert _json.load(f)["id"] == first
    assert _checkpoint_scope(cp) == first  # stable across calls

    cp2 = str(tmp_path / "cp2")
    _os.makedirs(cp2)
    with open(_os.path.join(cp2, "metadata"), "w") as f:
        _json.dump({"id": "11111111-2222-3333-4444-555555555555"}, f)
    assert _checkpoint_scope(cp2) == "11111111-2222-3333-4444-555555555555"


def test_jsonl_stream_ingest_quarantines_and_is_exactly_once(spark, tmp_path):
    """Streaming JSONL ingest: pinned schema, malformed lines land in the
    quarantine sink (with their source file), valid rows in the data sink;
    the checkpoint makes re-runs no-ops and new shards incremental."""
    from emr_apache_iceberg_workshop_spark.streaming import (
        stream_jsonl_ingest_available_now,
    )

    inp, out, quar, ckpt = (str(tmp_path / d) for d in ("in", "out", "q", "ck"))
    os.makedirs(inp)
    ddl = "id bigint, text string"
    with open(f"{inp}/b1.jsonl", "w") as f:
        f.write('{"id": 1, "text": "a"}\n{"id": 2, "text": "b"}\nBROKEN LINE\n')
    assert stream_jsonl_ingest_available_now(spark, inp, out, quar, ckpt, ddl) == (2, 1)
    assert {r.id for r in spark.read.parquet(out).collect()} == {1, 2}
    q1 = spark.read.parquet(quar).collect()
    assert [r.raw_line for r in q1] == ["BROKEN LINE"]
    assert "b1.jsonl" in q1[0].input_file

    # exactly-once: same checkpoint, no new files → nothing reprocessed
    assert stream_jsonl_ingest_available_now(spark, inp, out, quar, ckpt, ddl) == (0, 0)
    assert spark.read.parquet(out).count() == 2

    # a new shard streams in incrementally
    with open(f"{inp}/b2.jsonl", "w") as f:
        f.write('{"id": 3, "text": "c"}\n')
    assert stream_jsonl_ingest_available_now(spark, inp, out, quar, ckpt, ddl) == (1, 0)
    assert {r.id for r in spark.read.parquet(out).collect()} == {1, 2, 3}
