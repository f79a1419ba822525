"""Structured Streaming jobs (SURVEY.md §2.9).

The reference has no streaming runtime — its incremental semantics are
hand-rolled checkpoints (S4/S8) with a known double-processing gap on
crash between write and checkpoint. These jobs are the Spark-native
upgrades the survey calls for:

- `stream_ingest_available_now`: file-source ingestion with
  `Trigger.AvailableNow` + transactional checkpointLocation — replaces the
  mtime watermark (S2-S4) with exactly-once file tracking.
- `windowed_event_counts`: watermarked tumbling-window aggregation — the
  streaming twin of plans/events.q_event_windows (late data handled by
  event-time watermark instead of latest-wins merge).
- `sessionize_stateful`: applyInPandasWithState custom stateful operator —
  gap-based sessionization with explicit per-key state.

Scale: file-source streaming scales by listing parallelism + maxFilesPerTrigger;
state store partitioning follows spark.sql.shuffle.partitions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
)


def stream_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema_ddl: str = EVENTS_DDL,
) -> int:
    """Ingest all currently-available files exactly once; returns rows
    written this run. Re-running with the same checkpoint is a no-op for
    already-seen files (the transactional upgrade of raw-bronze's S4)."""
    stream = (
        spark.readStream.schema(schema_ddl)
        .option("sep", "\t")
        .option("header", "true")
        .csv(input_dir)
        .withColumn("input_file", F.input_file_name())
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = 0
    for p in q.recentProgress:
        n += p["numInputRows"]
    return n


def stream_jsonl_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
) -> tuple[int, int]:
    """JSONL corpus ingestion with quarantine — the streaming twin of
    `sources/jsonl.py`: pinned schema (no inference), PERMISSIVE
    corrupt-line capture, `Trigger.AvailableNow` + transactional
    checkpoint for exactly-once file tracking. Each microbatch splits
    into valid rows (parquet sink) and raw malformed lines (quarantine
    parquet) inside one foreachBatch call; both writes land in a
    batch-id-scoped directory with mode=overwrite, so a crash-replay of
    a microbatch (foreachBatch is at-least-once) overwrites its own
    partial output instead of double-appending — the standard
    idempotent-foreachBatch pattern. Returns (valid_rows,
    quarantined_lines) for this run."""
    import os as _os

    from ..sources.jsonl import CORRUPT_COL, jsonl_schema

    counts = {"ok": 0, "bad": 0}

    def sink(batch: DataFrame, bid: int) -> None:
        batch = batch.localCheckpoint(eager=True)  # split reads it twice
        ok = batch.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        bad = batch.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw_line"), F.col("input_file")
        )
        counts["ok"] += ok.count()
        counts["bad"] += bad.count()
        ok.write.mode("overwrite").parquet(_os.path.join(output_dir, f"batch={bid}"))
        bad.write.mode("overwrite").parquet(
            _os.path.join(quarantine_dir, f"batch={bid}")
        )

    stream = (
        spark.readStream.schema(jsonl_schema(schema_ddl))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(input_dir)
        .withColumn("input_file", F.input_file_name())
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counts["ok"], counts["bad"]


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window agg (append-mode-compatible).

    Watermarks require TIMESTAMP (not NTZ); with the session pinned to UTC
    the cast preserves wall-clock values."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_windowed_agg_available_now(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str = "windowed_out"
) -> DataFrame:
    """Drive the windowed agg over a parquet directory to completion via the
    memory sink (complete mode) and return the result table."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    agg = windowed_event_counts(events)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


# -- custom stateful operator ----------------------------------------------

_SESSION_GAP_SEC = 30 * 60

STATE_SCHEMA = "n_events long, session_start double, last_ts double, session_no long"
OUTPUT_SCHEMA = (
    "user_id long, session_no long, n_events long, session_start double, session_end double"
)


def _sessionize_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit closed sessions; keep the open session in state."""
    (user_id,) = key
    if state.exists:
        n_events, session_start, last_ts, session_no = state.get
    else:
        n_events, session_start, last_ts, session_no = 0, None, None, 0

    # A group arrives as MULTIPLE chunks with no cross-chunk ordering
    # guarantee: concatenate and sort ONCE so an early timestamp in a later
    # chunk cannot be processed after a later one (which would close
    # sessions spuriously / move last_ts backwards). Per-key state is
    # already assumed to fit in memory.
    all_ts = pd.concat([pdf["ts_sec"] for pdf in pdfs], ignore_index=True)
    out_rows = []
    for ts in all_ts.sort_values():
        if last_ts is not None and ts - last_ts > _SESSION_GAP_SEC:
            out_rows.append((user_id, session_no, n_events, session_start, last_ts))
            session_no += 1
            n_events, session_start = 0, ts
        elif session_start is None:
            session_start = ts
        n_events += 1
        last_ts = ts

    state.update((n_events, session_start, last_ts, session_no))
    if out_rows:
        yield pd.DataFrame(
            out_rows,
            columns=["user_id", "session_no", "n_events", "session_start", "session_end"],
        )


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """applyInPandasWithState gap-sessionization (streaming twin of
    plans/events.q_sessionization; emits only CLOSED sessions)."""
    prepped = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), F.unix_timestamp(F.col("ts").cast("timestamp")).cast("double").alias("ts_sec")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming CDC upsert ---------------------------------------------------

CDC_DDL = (
    "Op string, replicadmstimestamp timestamp_ntz, invoiceid long, itemid long,"
    " category string, price double, quantity int, orderdate date,"
    " destinationstate string, shippingtype string, referral string"
)


def apply_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    table_root: str,
    keys: list[str],
    order_col: str,
    op_col: str | None = None,
    delete_value: str = "D",
    partition_by: list[str] | None = None,
    merge_mode: str = "merge-on-read",
    scope: str | None = None,
) -> bool:
    """One exactly-once CDC microbatch: dedup latest-per-key, then MERGE
    with the foreachBatch `batch_id` stamped into the commit summary
    (atomic with the merge). A replayed batch whose id is already
    committed is skipped. Returns True when a merge was committed, False
    when the batch was empty or a replay.

    `scope` namespaces the replay guard the way Iceberg's streaming sink
    scopes its epochId by query id: batch ids are only compared against
    commits stamped with exactly the SAME scope
    (`SnapshotTable.stream_stamp`), so a stream restarted on a fresh
    checkpoint (ids restart at 0) or a second query feeding the same table
    applies its batches instead of having them silently dropped."""
    from ..operators import dedup_latest
    from ..tables import SnapshotTable

    if batch_df.isEmpty():
        return False
    src = dedup_latest(batch_df, keys, [F.col(order_col).desc(), *keys])
    if SnapshotTable.exists(table_root):
        table = SnapshotTable(spark, table_root)
    else:
        data_cols = [c for c in src.columns if op_col is None or c != op_col]
        table = SnapshotTable.create(
            spark,
            table_root,
            src.select(*data_cols).schema,
            partition_by=partition_by,
            properties={"write.merge.mode": merge_mode},
        )
    stamp = table.stream_stamp(scope, batch_id)
    if stamp is None:
        return False  # at-least-once replay of a committed batch
    table.merge(
        src, keys, op_col=op_col, delete_value=delete_value,
        summary_extra=stamp,
    )
    return True


def append_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    table_root: str,
    partition_by: list[str] | None = None,
    scope: str | None = None,
) -> bool:
    """One exactly-once streaming APPEND microbatch (the plain-sink twin
    of `apply_cdc_batch`, for feeds that are inserts-only — logs, events,
    telemetry): the (query scope, batch id) pair is stamped into the
    append commit atomically and same-scope replays are skipped. The
    table is created from the first batch's schema. Returns True when a
    snapshot was committed."""
    from ..tables import SnapshotTable

    if batch_df.isEmpty():
        return False
    if SnapshotTable.exists(table_root):
        table = SnapshotTable(spark, table_root)
    else:
        table = SnapshotTable.create(
            spark, table_root, batch_df.schema, partition_by=partition_by
        )
    stamp = table.stream_stamp(scope, batch_id)
    if stamp is None:
        return False
    table.write(batch_df, mode="append", summary_extra=stamp)
    return True


def stream_append_table(
    spark: SparkSession,
    stream: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
):
    """Streaming append sink INTO a SnapshotTable: every microbatch is an
    exactly-once append commit (scope-stamped batch ids, like the CDC
    sink but without merge semantics). `Trigger.AvailableNow` drains the
    source and returns the table; re-running with the same checkpoint is
    a no-op, a fresh checkpoint re-applies nothing already committed
    under ITS scope but never drops new data. At scale this is the
    landing sink for insert-only feeds: commit cost is O(batch), readers
    see snapshot-isolated appends, and downstream incremental consumers
    use scan_incremental/changes over the committed snapshot ids."""
    from ..tables import SnapshotTable

    # resolved ONCE before start (creating <checkpoint>/metadata if
    # absent — Spark adopts it), closed over by every batch
    scope = _checkpoint_scope(checkpoint_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        append_stream_batch(
            spark, batch_df, batch_id, table_root,
            partition_by=partition_by,
            scope=scope,
        )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return SnapshotTable(spark, table_root) if SnapshotTable.exists(table_root) else None


def _checkpoint_scope(checkpoint_dir: str) -> str:
    """Replay-guard scope for a foreachBatch stream: the streaming query
    id Spark persists at `<checkpoint>/metadata` — stable across restarts
    from the SAME checkpoint, fresh for a new one (the exact lifetime of
    the checkpoint's batch-id sequence). If the metadata file does not
    exist yet (stream not started), it is CREATED here with a fresh query
    id: Spark ADOPTS a pre-existing `<checkpoint>/metadata` on start
    (that is how checkpoint resumption works), so the scope resolved
    before `start()` is the same one every batch and every restart sees —
    batch 0 can no longer stamp under a path-fallback scope that a
    restart's query-id scope would fail to match (ADVICE r11). Callers
    resolve ONCE before starting the stream and close over the value."""
    import json
    import os
    import uuid

    path = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(path) as f:
            return str(json.load(f)["id"])
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(checkpoint_dir, exist_ok=True)
    qid = str(uuid.uuid4())
    try:
        with open(path, "x") as f:
            json.dump({"id": qid}, f)
    except FileExistsError:  # racing writer: adopt whoever won
        with open(path) as f:
            return str(json.load(f)["id"])
    return qid


def stream_cdc_upsert(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    order_col: str = "replicadmstimestamp",
    schema_ddl: str = CDC_DDL,
    op_col: str | None = None,
    delete_value: str = "D",
    partition_by: list[str] | None = None,
    merge_mode: str = "merge-on-read",
):
    """Streaming bronze→silver: CDC files → per-microbatch dedup + MERGE.

    The Structured-Streaming upgrade of the reference's snapshot-checkpoint
    loop (`bronze-silver.py:75-109,146-149,249-285`): the file-source
    checkpoint replaces the hand-rolled snapshot watermark, and each
    microbatch runs the same dedup-then-merge the batch pipeline runs.

    Exactly-once: every merge commit stamps its foreachBatch `batch_id`
    PLUS the checkpoint's streaming query id (the replay-guard scope)
    into the snapshot summary IN THE SAME atomic metadata swap (the trick
    Iceberg's streaming sink uses with `spark.sql.streaming.epochId`), and
    a replayed batch — foreachBatch is at-least-once — is SKIPPED when its
    id is already committed under exactly the same scope (the table's one
    replay guard, `SnapshotTable.stream_stamp`): no duplicate snapshot,
    no duplicate work, and a stream restarted on a fresh checkpoint (whose
    batch ids restart at 0) still applies its batches. The
    latest-wins MERGE stays idempotent underneath as a second line of
    defense (a crash BETWEEN data write and metadata swap leaves no
    committed batch id, and the re-merge converges to the same state) —
    fixing the reference's crash-between-write-and-checkpoint
    double-processing gap.

    The silver table defaults to `write.merge.mode=merge-on-read`, matching
    the reference's MOR silver (`bronze-silver.py:184-189`): each
    microbatch merge appends the batch's upserts plus a key-delete file —
    cost O(batch), NOT O(table) — and readers fold the deletes at scan
    until a periodic `table.compact()`. Pass
    `merge_mode="copy-on-write"` for read-optimized silver (partitioned
    tables then rewrite only the touched partitions per batch).

    Scale: microbatch write amplification is bounded by the batch (MOR) or
    the touched partitions (COW); `maxFilesPerTrigger` bounds batch size;
    state lives in the table, not the stream (no state store growth).

    Returns the `SnapshotTable` after all available data is applied.
    """
    from ..tables import SnapshotTable

    keys = keys or ["invoiceid", "itemid"]

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("sep", "\t")
        .option("header", "true")
        .csv(input_dir)
    )

    # resolved ONCE before start (creating <checkpoint>/metadata if
    # absent — Spark adopts it), closed over by every batch
    scope = _checkpoint_scope(checkpoint_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark, batch_df, batch_id, table_root, keys,
            order_col=order_col, op_col=op_col, delete_value=delete_value,
            partition_by=partition_by, merge_mode=merge_mode,
            scope=scope,
        )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return SnapshotTable(spark, table_root) if SnapshotTable.exists(table_root) else None


# -- stream-stream interval join --------------------------------------------


def stream_stream_attribution(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase to
    the same user's clicks in the preceding `horizon`.

    Both sides are watermarked and the join condition bounds purchase_ts to
    [click_ts, click_ts + horizon], so the state store can evict a click
    once its ts passes (watermark + horizon) and a purchase immediately
    after matching — bounded state at any throughput. This is the streaming
    operator the reference's batch-incremental design cannot express.
    """
    c = (
        clicks.select(
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        ).withWatermark("purchase_ts", watermark)
    )
    return c.join(
        p,
        F.expr(
            f"""c_user = p_user AND
                purchase_ts >= click_ts AND
                purchase_ts <= click_ts + INTERVAL {horizon}"""
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_attribution_available_now(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str = "attribution_out"
) -> DataFrame:
    """Drive the attribution join over an events parquet dir (clicks +
    purchases filtered from one stream) to completion via the memory sink."""
    events = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    joined = stream_stream_attribution(clicks, purchases)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


# -- streaming dedup --------------------------------------------------------


def stream_dedup_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> int:
    """Streaming deduplication: keep the FIRST arrival per key, dropping
    re-deliveries that arrive within the watermark horizon
    (`dropDuplicatesWithinWatermark` — the streaming twin of W1's
    latest-per-key batch dedup, but first-wins, which is the at-least-once
    ingestion contract: re-delivered CDC rows are identical, so first-wins
    == exactly-once).

    Scale: state is one entry per key within the watermark horizon,
    partitioned by the state store on the dedup key — bounded by key
    cardinality per horizon, not stream length; expired keys age out with
    the watermark. Returns rows WRITTEN (post-dedup) this run."""
    keys = keys or ["event_id"]
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = 0
    for p in q.recentProgress:
        for sink_row in [p.get("sink", {})]:
            n = sink_row.get("numOutputRows", -1)
            if n and n > 0:
                written += n
    return written
