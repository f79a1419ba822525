"""Driver-checked Structured Streaming queries.

The streaming jobs in `streaming/jobs.py` are pytest-verified against
their batch twins; the queries here additionally put REAL streaming
executions under the driver's DuckDB-oracle gate (windowed agg, dedup,
stateful sessionization, stream-stream join, end-to-end CDC, and the
change-feed incremental aggregate): each runs a bounded Structured
Streaming query to completion (`Trigger.AvailableNow` → memory sink)
over the driver's parquet testdata (or a deterministic fixture feed) and
returns the sink table. The
oracle is plain batch SQL — streaming-vs-batch equivalence IS the check
(the strongest correctness statement Structured Streaming offers for
bounded input: same result as the batch query over the same data).

Determinism notes:
- AvailableNow over a single parquet file processes everything before the
  final watermark advance, so `complete`-mode aggregation emits every
  window and `dropDuplicatesWithinWatermark` holds every key in state —
  no row is dropped as late (the late-data PATH is still exercised: the
  watermark operator runs, state is keyed and evicted by the same code
  that runs unbounded).
- Double sums use the exact-decimal accumulator (`functions.dsum`) like
  every batch query, so state-update order cannot change the result.
- Each run gets a fresh checkpoint dir (mkdtemp) and a unique memory-sink
  name, so repeated in-process runs (bench pass 1/2, driver re-checks)
  restart from scratch instead of replaying a checkpoint.

Scale: the memory sink is the TEST harness, not the design — production
writes go to the parquet/table sinks in `streaming/jobs.py`. Watermarked
window state is bounded by (windows in horizon × event types); dedup
state by keys per horizon. Both shapes are the standard unbounded-stream
designs (SCALE.md §Streaming).
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, functions as F

from ..functions import TS_FMT_DUCK, TS_FMT_SPARK, dsum, osum
from ..session import scoped_confs
from ..streaming.jobs import EVENTS_DDL
from .registry import query
from .tablemeta import DEMO_ROOT as _DEMO_ROOT

_run_counter = itertools.count()

# The file streaming source requires a DIRECTORY; the testdata ships one
# parquet file per table. Stage a per-sf_dir temp directory holding a
# symlink to events.parquet (no copy — the source follows local links).
_stream_dir_cache: dict[str, str] = {}


def _events_stream_dir(sf_dir: str) -> str:
    import os

    key = os.path.abspath(sf_dir)
    d = _stream_dir_cache.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="eiws_stream_src_")
        os.symlink(os.path.join(key, "events.parquet"), os.path.join(d, "events.parquet"))
        _stream_dir_cache[key] = d
    return d


def _run_to_memory(stream_df: DataFrame, spark, mode: str, prefix: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a uniquely-named
    memory sink; returns the sink table.

    Shuffle partitions are clamped to 8 for the run: a streaming query
    instantiates one state store PER shuffle partition PER stateful
    operator, and store setup/commit dominates these bounded fixture-scale
    runs (a stream-stream join on a vanilla 200-partition session pays
    400 store commits per microbatch for ~10k rows). Results are
    partition-count-independent; the session conf is restored after."""
    name = f"{prefix}_{next(_run_counter)}"
    ck = tempfile.mkdtemp(prefix=f"eiws_{prefix}_ck_")
    with _microbatch_confs(spark):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "q_stream_event_windows",
    # batch twin of the STREAMING execution — the same windows/counts/sums
    # the batch q_event_windows oracle computes
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {osum('value', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming:windowed-agg", "window:tumbling"),
)
def q_stream_event_windows(spark, sf_dir) -> DataFrame:
    """Watermarked tumbling-window aggregation executed AS A STREAM
    (AvailableNow, complete mode): per-hour event counts and exact value
    sums; must equal the batch aggregation over the same data."""
    stream = spark.readStream.schema(EVENTS_DDL).parquet(_events_stream_dir(sf_dir))
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
    )
    out = _run_to_memory(agg, spark, "complete", "stream_win")
    return out.select(
        F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "q_stream_dedup",
    # the stream re-delivers every event twice; first-wins dedup on the key
    # must reduce it back to exactly the distinct batch rows
    oracle=f"""
    SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts, user_id, event_type
    FROM events
    """,
    tags=("streaming:dedup", "cdc"),
)
def q_stream_dedup(spark, sf_dir) -> DataFrame:
    """Streaming at-least-once dedup executed AS A STREAM: the source is
    unioned with itself (every event delivered twice — the re-delivery
    shape of at-least-once ingestion) and
    `dropDuplicatesWithinWatermark(event_id)` must restore exactly-once:
    one row per event, equal to the batch table."""
    src = spark.readStream.schema(EVENTS_DDL).parquet(_events_stream_dir(sf_dir))
    redelivered = src.union(src)
    dedup = (
        redelivered.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(dedup, spark, "append", "stream_dedup")
    return out.select(
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts"),
        "user_id",
        "event_type",
    )


# --------------------------------------------------------------------------
# Stateful sessionization executed AS A STREAM — the applyInPandasWithState
# custom operator under the driver's oracle gate.

_SES_GAP_US = 30 * 60 * 1_000_000  # 30-minute gap, microseconds
_SES_OUT = "user_id long, session_no long, n_events long, start_us long, end_us long"
_SES_STATE = "n_events long, start_us long, last_us long, session_no long"
_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _sessionize_us_fn(key, pdfs, state):
    """Gap-sessionization over exact int64 microseconds (the seconds-double
    variant in streaming/jobs.py is fine for its pytest twin, but the
    driver's bit-exact oracle comparison demands integer gap arithmetic —
    no float rounding at the 30-minute boundary). Emits CLOSED sessions;
    the open tail stays in state."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        n_events, start_us, last_us, session_no = state.get
    else:
        n_events, start_us, last_us, session_no = 0, None, None, 0
    all_us = pd.concat([pdf["us"] for pdf in pdfs], ignore_index=True)
    out = []
    for us in sorted(all_us.astype("int64")):
        us = int(us)
        if last_us is not None and us - last_us > _SES_GAP_US:
            out.append((user_id, session_no, n_events, start_us, last_us))
            session_no += 1
            n_events, start_us = 0, us
        elif start_us is None:
            start_us = us
            if session_no == 0:
                session_no = 1  # 1-based like the batch cumulative sum
        n_events += 1
        last_us = us
    state.update((n_events, start_us, last_us, session_no))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_no", "n_events", "start_us", "end_us"]
        )


_ses_dir_cache: dict[str, str] = {}


def _sessionize_stream_dir(spark, sf_dir: str) -> str:
    """Staged stream source: events.parquet (symlink) PLUS one sentinel
    event per user at max(ts)+2h. The sentinel closes every user's real
    last session (applyInPandasWithState emits only closed sessions and
    NoTimeout never flushes the open tail); the sentinel's own one-event
    session stays open and unemitted, so the sink holds EXACTLY the batch
    sessionization's rows."""
    import os

    key = os.path.abspath(sf_dir)
    d = _ses_dir_cache.get(key)
    if d is not None and os.path.isdir(d):
        return d
    d = tempfile.mkdtemp(prefix="eiws_sess_src_")
    os.symlink(os.path.join(key, "events.parquet"), os.path.join(d, "events.parquet"))
    from ..catalog import load_table

    ev = load_table(spark, key, "events")
    sentinels = ev.groupBy("user_id").agg(F.max("ts").alias("mx")).selectExpr(
        "CAST(-user_id AS BIGINT) AS event_id",
        "timestampadd(HOUR, 2, mx) AS ts",
        "user_id",
        "CAST('__sentinel' AS STRING) AS event_type",
        "CAST(0.0 AS DOUBLE) AS value",
    )
    sentinels.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "sentinels"))
    # the file source walks subdirs only with globs; flatten the sentinel
    # file up into the source dir instead
    sub = os.path.join(d, "sentinels")
    part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
    os.replace(os.path.join(sub, part), os.path.join(d, "sentinels.parquet"))
    import shutil as _shutil

    _shutil.rmtree(sub, ignore_errors=True)
    _ses_dir_cache[key] = d
    return d


@query(
    "q_stream_sessionize",
    # batch twin: the same gap-sessionization q_sessionization states
    # (sentinels excluded by construction — they never close)
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes' OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no, COUNT(*) AS n_events,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts), '{TS_FMT_DUCK}') AS session_end
    FROM sess GROUP BY user_id, session_no
    """,
    tags=("streaming:stateful", "sessionization"),
)
def q_stream_sessionize(spark, sf_dir) -> DataFrame:
    """applyInPandasWithState gap-sessionization executed AS A STREAM
    (AvailableNow → memory sink): per-user 30-minute-gap sessions, exact
    int64-µs arithmetic, tz-independent NTZ-epoch timestamps — must equal
    the batch window-function sessionization over the same events."""
    src = _sessionize_stream_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
    prepped = stream.selectExpr(
        "user_id", f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts) AS us"
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    sessions = prepped.groupBy("user_id").applyInPandasWithState(
        _sessionize_us_fn,
        outputStructType=_SES_OUT,
        stateStructType=_SES_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(sessions, spark, "append", "stream_sess")
    ntz = lambda c: f"timestampadd(MICROSECOND, {c}, {_EPOCH_NTZ})"  # noqa: E731
    return out.selectExpr(
        "user_id",
        "session_no",
        "n_events",
        f"date_format({ntz('start_us')}, '{TS_FMT_SPARK}') AS session_start",
        f"date_format({ntz('end_us')}, '{TS_FMT_SPARK}') AS session_end",
    )


@query(
    "q_stream_join",
    # batch twin: plain interval self-join over the same events
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
           strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    tags=("streaming:stream-stream-join", "interval-join"),
)
def q_stream_join(spark, sf_dir) -> DataFrame:
    """Watermarked stream-stream interval join executed AS A STREAM
    (click→purchase attribution within 1 hour, both sides watermarked so
    state is bounded): AvailableNow over one file = one microbatch, so no
    state eviction can precede the data and the sink must hold exactly
    the batch interval join's rows."""
    from ..streaming.jobs import stream_stream_attribution

    src = _events_stream_dir(sf_dir)
    ev = lambda: spark.readStream.schema(EVENTS_DDL).parquet(src)  # noqa: E731
    joined = stream_stream_attribution(
        ev().filter(F.col("event_type") == "click"),
        ev().filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        watermark="2 hours",
    )
    out = _run_to_memory(joined, spark, "append", "stream_join")
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", TS_FMT_SPARK).alias("click_ts"),
        F.date_format("purchase_ts", TS_FMT_SPARK).alias("purchase_ts"),
        "purchase_value",
    )


# --------------------------------------------------------------------------
# The reference's CORE workload end-to-end under the oracle gate: CDC files
# → streaming dedup+MERGE → silver table state (raw-bronze + bronze-silver
# collapsed into the Structured Streaming upgrade, reference
# `bronze-silver.py:249-285`).

_CDC_HEADER = (
    "Op\treplicadmstimestamp\tinvoiceid\titemid\tcategory\tprice\tquantity"
    "\torderdate\tdestinationstate\tshippingtype\treferral"
)
# the reference's deterministic demo rows (datagen/raw-datagen.py:88-98,
# datagen/updates_iceberg.py:89-96): 5 inserts, then 2 updates that mutate
# category with a '####' suffix on keys (40994,67) and (83597,37)
_CDC_BATCH1 = [
    "I\t2024-02-16 15:30:41.041474\t24137\t34\tdegree\t53.51\t1\t2023-03-29\tSC\t3-Day\tbook",
    "I\t2024-08-20 17:16:03.213831\t15587\t59\tbit\t40.94\t5\t2022-07-16\tPW\t3-Day\tmanagement",
    "I\t2024-10-28 20:02:37.424182\t42918\t69\tschool\t27.23\t3\t2024-04-29\tCT\t2-Day\ttrouble",
    "I\t2024-06-27 14:36:25.103244\t40994\t67\tmarket\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "I\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage\t97.07\t3\t2021-09-10\tSC\tStandard\tplay",
]
_CDC_BATCH2 = [
    "U\t2024-11-01 10:00:00.000000\t40994\t67\tmarket####\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "U\t2024-11-01 10:00:01.000000\t83597\t37\tlanguage####\t97.07\t3\t2021-09-10\tSC\tStandard\tplay",
]

_cdc_cache: dict[int, tuple[str, str, str]] = {}


def _cdc_dirs() -> tuple[str, str, str]:
    import os

    key = os.getpid()
    dirs = _cdc_cache.get(key)
    if dirs is None:
        base = tempfile.mkdtemp(prefix="eiws_cdc_")
        inp = os.path.join(base, "in")
        os.makedirs(inp)
        for name, rows in (("batch1.csv", _CDC_BATCH1), ("batch2.csv", _CDC_BATCH2)):
            with open(os.path.join(inp, name), "w") as f:
                f.write(_CDC_HEADER + "\n" + "\n".join(rows) + "\n")
        dirs = (inp, os.path.join(base, "silver"), os.path.join(base, "ckpt"))
        _cdc_cache[key] = dirs
    return dirs


@query(
    "q_stream_cdc",
    # latest-wins expected state is a deterministic constant: the two
    # updated keys carry the '####'-suffixed categories
    oracle="""
    SELECT * FROM (VALUES
        (CAST(24137 AS BIGINT), CAST(34 AS BIGINT), 'degree',
         CAST(53.51 AS DOUBLE), 1, 'SC', '2024-02-16 15:30:41.041474'),
        (15587, 59, 'bit', 40.94, 5, 'PW', '2024-08-20 17:16:03.213831'),
        (42918, 69, 'school', 27.23, 3, 'CT', '2024-10-28 20:02:37.424182'),
        (40994, 67, 'market####', 92.02, 1, 'VI', '2024-11-01 10:00:00.000000'),
        (83597, 37, 'language####', 97.07, 3, 'SC', '2024-11-01 10:00:01.000000'))
    AS t(invoiceid, itemid, category, price, quantity, destinationstate, op_ts)
    """,
    tags=("streaming:cdc-upsert", "reference:J1"),
)
def q_stream_cdc(spark, sf_dir) -> DataFrame:
    """The reference pipeline's observable contract, executed as a
    STREAM: the demo CDC feed (5 I rows + 2 U rows) through
    `stream_cdc_upsert` (file-source checkpoint → per-microbatch dedup →
    MOR MERGE) must leave the silver table in the latest-wins state the
    reference's Athena/DuckDB readers would see. Re-runs are no-ops
    (exactly-once on the file source), so bench passes and driver
    re-checks return the identical table."""
    from ..streaming.jobs import stream_cdc_upsert

    inp, tbl, ckpt = _cdc_dirs()
    t = stream_cdc_upsert(spark, inp, tbl, ckpt, op_col="Op")
    return t.scan().select(
        "invoiceid",
        "itemid",
        "category",
        "price",
        "quantity",
        "destinationstate",
        F.date_format("replicadmstimestamp", TS_FMT_SPARK).alias("op_ts"),
    )


# --------------------------------------------------------------------------
_incr_stream_cache: dict[str, str] = {}


def _changes_stream_dir(spark) -> str:
    """The tablemeta demo table's FULL-PRE-IMAGE changelog, materialized
    once per process as a parquet directory — the change feed a
    downstream streaming consumer would subscribe to."""
    import os

    d = _incr_stream_cache.get("d")
    if d is None or not os.path.isdir(d):
        from .tablemeta import _demo_table

        t = _demo_table(spark)
        d = tempfile.mkdtemp(prefix="eiws_changes_src_")
        t.changes(None, 3, full_preimages=True).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        _incr_stream_cache["d"] = d
    return d


@query(
    "q_stream_incr_agg",
    # identical oracle to q_meta_incr_agg: a from-scratch recompute of the
    # final aggregate off the raw committed files — the streaming fold of
    # the change feed must land on the same numbers
    oracle=f"""
    WITH base AS (
      SELECT id, category, qty
      FROM read_parquet('{_DEMO_ROOT}/data/s1/*/*.parquet', hive_partitioning = true)
      UNION ALL
      SELECT id, category, qty
      FROM read_parquet('{_DEMO_ROOT}/data/s2/*/*.parquet', hive_partitioning = true)),
    dels AS (SELECT id FROM read_parquet('{_DEMO_ROOT}/deletes/s3/*.parquet')),
    live AS (
      SELECT * FROM base ANTI JOIN dels USING (id)
      UNION ALL
      SELECT id, category, qty
      FROM read_parquet('{_DEMO_ROOT}/data/s3/*/*.parquet', hive_partitioning = true))
    SELECT category,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM live GROUP BY category
    """,
    tags=("streaming:incr-agg", "cdc"),
)
def q_stream_incr_agg(spark, sf_dir) -> DataFrame:
    """Streaming incremental aggregate maintenance: subscribe to the
    table's change feed (inserts + full pre-image deletes) and keep a
    signed running aggregate per category — Spark's stateful streaming
    aggregation IS the incremental-view-maintenance engine here, folding
    each microbatch's deltas into state instead of recomputing. The
    memory sink is the harness; production would writeStream the same
    aggregation into a table sink."""
    d = _changes_stream_dir(spark)
    ddl = (
        "id bigint, category string, qty bigint,"
        " _change_type string, _snapshot_id bigint"
    )
    stream = spark.readStream.schema(ddl).parquet(d)
    agg = (
        stream.withColumn(
            "w",
            F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1)),
        )
        .groupBy("category")
        .agg(
            F.sum(F.col("qty") * F.col("w")).cast("bigint").alias("sum_qty"),
            F.sum("w").cast("bigint").alias("cnt"),
        )
    )
    out = _run_to_memory(agg, spark, "complete", "incragg")
    return out.filter(F.col("cnt") > 0)


# --------------------------------------------------------------------------
# Streaming APPEND sink into a SnapshotTable (the insert-only landing
# shape): drain a bounded event feed through stream_append_table's
# exactly-once foreachBatch commits, then aggregate the COMMITTED TABLE.
# The oracle recomputes from the raw source rows — any dropped,
# duplicated, or replayed batch breaks the totals.

_append_sink_cache: dict[str, str] = {}


def _append_sink_table(spark, sf_dir: str) -> str:
    import os
    import shutil as _shutil

    from ..catalog import load_table
    from ..streaming.jobs import stream_append_table
    from ..tables import SnapshotTable

    key = os.path.abspath(sf_dir)
    root = _append_sink_cache.get(key)
    if root and SnapshotTable.exists(root):
        return root
    base = tempfile.mkdtemp(prefix="eiws_append_sink_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    # deterministic bounded feed: the first 2000 events in two shards
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type", "value")
    )
    ev.filter(F.col("event_id") < 1000).coalesce(1).sortWithinPartitions(
        "event_id"
    ).write.parquet(os.path.join(src, "p0"))
    ev.filter(F.col("event_id") >= 1000).coalesce(1).sortWithinPartitions(
        "event_id"
    ).write.parquet(os.path.join(src, "p1"))
    # flatten: file source wants one directory of files
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    n = 0
    for sub in ("p0", "p1"):
        for fn in sorted(os.listdir(os.path.join(src, sub))):
            if fn.endswith(".parquet"):
                _shutil.copy(os.path.join(src, sub, fn), os.path.join(flat, f"f{n}.parquet"))
                n += 1
    root = os.path.join(base, "tbl")
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).parquet(flat)
    stream_append_table(spark, stream, root, os.path.join(base, "cp"))
    _append_sink_cache[key] = root
    return root


@query(
    "q_stream_append",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {osum('value')} AS total_value
    FROM events WHERE event_id < 2000
    GROUP BY event_type
    """,
    tags=("streaming:append-sink", "tablemeta"),
)
def q_stream_append(spark, sf_dir) -> DataFrame:
    """Insert-only streaming landing: a bounded event feed drained into a
    SnapshotTable via exactly-once append commits (scope-stamped batch
    ids), then aggregated FROM THE TABLE — equality with the batch
    recompute over the raw source is the exactly-once proof."""
    from ..tables import SnapshotTable

    root = _append_sink_table(spark, sf_dir)
    t = SnapshotTable(spark, root)
    return (
        t.scan()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Streaming heavy hitters: the t_heavy_hitters aggregate executed AS A
# STREAM — complete-mode token counting (state = O(vocabulary), the
# standard streaming frequency-table shape) with the top-k taken from the
# final sink state. Streaming-vs-batch equivalence against the same
# one-pass DuckDB top-k oracle as the batch query.

_DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_docs_stream_cache: dict[str, str] = {}


def _docs_stream_dir(sf_dir: str) -> str:
    import os

    key = os.path.abspath(sf_dir)
    d = _docs_stream_cache.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="eiws_stream_docs_")
        os.symlink(
            os.path.join(key, "documents.parquet"),
            os.path.join(d, "documents.parquet"),
        )
        _docs_stream_cache[key] = d
    return d


from .textops import _HH_K as _STREAM_HH_K, TOKS_D as _TOKS_D  # noqa: E402


@query(
    "q_stream_heavy_hitters",
    oracle=f"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKS_D}) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token LIMIT {_STREAM_HH_K}
    """,
    tags=("streaming:agg", "tokens", "topk"),
)
def q_stream_heavy_hitters(spark, sf_dir) -> DataFrame:
    """Token frequency as a complete-mode streaming aggregation, top-25
    from the drained sink — must equal the batch top-k exactly."""
    from ..operators import top_k
    from .textops import TOKS_S

    stream = spark.readStream.schema(_DOCS_DDL).parquet(_docs_stream_dir(sf_dir))
    counts = (
        stream.selectExpr(f"explode({TOKS_S}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    out = _run_to_memory(counts, spark, "complete", "stream_hh")
    return top_k(out, [F.col("freq").desc(), F.col("token")], _STREAM_HH_K)


# --------------------------------------------------------------------------
# Streaming INCREMENTAL DEDUP: the day-2+ production shape end-to-end —
# an unbounded document feed deduplicated micro-batch by micro-batch
# against the PERSISTED MinHash signature store. foreachBatch runs the
# same `dedup_batch_incremental` the one-shot d_incremental query uses
# (signature the batch — the only pass over text — band-join the store
# and itself, append the batch's signatures) so batch N+1 sees batch N.
#
# The union of per-batch verdicts is BATCHING-INVARIANT: a cross-batch
# pair is emitted exactly once (in the later doc's batch, against the
# store), an intra-batch pair exactly once (the band self-join; the
# store join anti-excludes the batch's own ids). The streamed result
# therefore equals the one-shot incremental run over the concatenated
# batches — and shares d_incremental's full-recompute oracle verbatim.


def _incr_stream_src_dir(spark, sf_dir: str) -> str:
    """Stage the batch docs (doc_id % 5 = 0) as THREE parquet files in a
    per-sf_dir cached directory — with maxFilesPerTrigger=1 the file
    source turns them into three micro-batches. Built once per process;
    the split rule is arbitrary (any batching yields the same union)."""
    import os
    import shutil as _shutil

    from ..catalog import load_table

    key = os.path.abspath(sf_dir)
    d = _docs_stream_cache.get(key + "#incr")
    if d is not None and os.path.isdir(d):
        return d
    base = tempfile.mkdtemp(prefix="eiws_incr_feed_")
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 5 = 0")
        .select("doc_id", "text")
    )
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    for k in range(3):
        sub = os.path.join(base, f"p{k}")
        batch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == k).coalesce(
            1
        ).sortWithinPartitions("doc_id").write.parquet(sub)
        for fn in sorted(os.listdir(sub)):
            if fn.endswith(".parquet"):
                _shutil.copy(os.path.join(sub, fn), os.path.join(flat, f"b{k}.parquet"))
    _docs_stream_cache[key + "#incr"] = flat
    return flat


def incremental_dedup_stream_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    store,
    out_dir: str,
    scope: str | None = None,
) -> bool:
    """One EXACTLY-ONCE incremental-dedup micro-batch (the dedup twin of
    `streaming/jobs.py append_stream_batch`): the (query scope, batch id)
    pair is stamped into the signature-append commit atomically, so a
    replayed batch never double-appends signatures; verdicts for batch N
    land in `out_dir`/batch=N with OVERWRITE, so a replay rewrites the
    same partition instead of duplicating rows. The verdict computation
    is replay-correct by construction: the store side anti-joins the
    batch's own ids out, so recomputing against a store that already
    holds this batch's signatures yields the original result. Returns
    True when this call appended the signatures (False = replay skip)."""
    from .dedup import dedup_batch_incremental, minhash_signature_df

    if batch_df.isEmpty():
        return False
    sig = minhash_signature_df(
        batch_df.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    # a replay still recomputes and rewrites its verdicts; it only skips
    # the signature append
    stamp = store.stream_stamp(scope, batch_id)
    res = dedup_batch_incremental(
        spark, None, store,
        append=stamp is not None, batch_sig=sig, summary_extra=stamp,
    )
    res.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))
    return stamp is not None


def stream_incremental_dedup(
    spark, stream_df: DataFrame, store, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Drive a bounded document stream through per-micro-batch
    incremental dedup against `store` (exactly-once signature appends —
    scope-stamped batch ids — so later batches see earlier ones exactly
    once); verdicts accumulate per-batch in `out_dir`. Returns the
    accumulated (doc_a, doc_b, est_sim) verdicts."""
    from ..streaming.jobs import _checkpoint_scope

    # resolved ONCE before start: _checkpoint_scope now CREATES the
    # checkpoint's query-id file when absent (Spark adopts it on start),
    # so batch 0 stamps under the same scope every restart resolves —
    # the ADVICE r11 fallback-scope mismatch cannot occur
    scope = _checkpoint_scope(checkpoint_dir)

    def _fb(bdf: DataFrame, batch_id: int) -> None:
        incremental_dedup_stream_batch(
            bdf.sparkSession, bdf, batch_id, store, out_dir,
            scope=scope,
        )

    q = (
        stream_df.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, est_sim double"
        )
    return spark.read.parquet(out_dir).select("doc_a", "doc_b", "est_sim")


from .dedup import INCR_PAIRS_ORACLE as _INCR_PAIRS_ORACLE  # noqa: E402


@query(
    "q_stream_incremental_dedup",
    # d_incremental's oracle VERBATIM: the micro-batched union answers
    # the same full-recompute contract as the one-shot batch run
    oracle=_INCR_PAIRS_ORACLE,
    tags=("streaming:incremental-dedup", "snapshot-table", "foreachBatch"),
)
def q_stream_incremental_dedup(spark, sf_dir) -> DataFrame:
    """Micro-batched incremental dedup: three document micro-batches
    band-joined in turn against the persisted signature store, each
    batch's signatures committed before the next arrives. The union of
    per-batch verdicts must equal the FULL-corpus LSH recompute
    restricted to pairs touching the feed — the same oracle as the
    one-shot d_incremental, proving the micro-batch decomposition loses
    and invents nothing."""
    import os

    from .dedup import _incremental_store_for
    from ..catalog import clone_store
    from ..tables import SnapshotTable

    # fresh store CLONE per run (the run appends 3 snapshots to it):
    # day-1 corpus signatures are built once per process and hardlinked —
    # SnapshotTable paths are root-relative, so a cloned root scans as-is
    day1 = _incremental_store_for(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="eiws_incr_stream_")
    store_root = os.path.join(base, "sigs")
    clone_store(day1, store_root)
    store = SnapshotTable(spark, store_root)

    src = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(_incr_stream_src_dir(spark, sf_dir))

    with _microbatch_confs(spark):
        return stream_incremental_dedup(
            spark, src, store,
            os.path.join(base, "verdicts"), os.path.join(base, "cp"),
        )


# --------------------------------------------------------------------------
# Streaming CDC maintenance of an incremental signature store: the full
# day-2 production loop — an I/U/D CDC feed (the reference datagen's Op
# shape, `datagen/raw-datagen.py:16`) drained as micro-batches, each
# batch folded into the store with ONE atomic merge commit (upserted
# signatures + equality deletes of D keys, merge-on-read), scope-stamped
# for exactly-once. Because the fold is a single snapshot there is no
# crash window between a delete commit and an append commit: a replayed
# batch either sees its stamp (skip) or re-merges idempotently.


def cdc_sig_stream_batch(
    spark, batch_df: DataFrame, batch_id: int, store, scope: str | None = None
) -> bool:
    """Fold one CDC micro-batch (Op, doc_id, text) into the signature
    store: I/U rows are signatured (the only text pass) and upserted,
    D rows ride the same merge as op-column deletes — one commit, one
    stamp. Returns True when this call merged (False = replay skip)."""
    from .dedup import _SIG_COLS, N_BANDS, minhash_signature_df

    if batch_df.isEmpty():
        return False
    stamp = store.stream_stamp(scope, batch_id)
    if stamp is None:
        return False
    sig = minhash_signature_df(
        batch_df.filter("Op IN ('I', 'U')").select("doc_id", "text")
    ).withColumn("Op", F.lit("U"))
    dels = batch_df.filter("Op = 'D'").selectExpr(
        "doc_id",
        *[f"CAST(NULL AS BIGINT) AS {c}" for c in _SIG_COLS],
        *[f"CAST(NULL AS STRING) AS band{b}" for b in range(N_BANDS)],
        "'D' AS Op",
    )
    store.merge(
        sig.unionByName(dels), keys=["doc_id"], op_col="Op",
        summary_extra=stamp,
    )
    return True


def stream_cdc_sig_store(
    spark, stream_df: DataFrame, store, checkpoint_dir: str
):
    """Drive a bounded CDC stream into the signature store via
    `cdc_sig_stream_batch`; returns after the drain (exactly-once:
    re-running with the same checkpoint is a no-op)."""
    from ..streaming.jobs import _checkpoint_scope

    scope = _checkpoint_scope(checkpoint_dir)

    def _fb(bdf: DataFrame, batch_id: int) -> None:
        cdc_sig_stream_batch(bdf.sparkSession, bdf, batch_id, store, scope=scope)

    q = (
        stream_df.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_CDC_UPD_SUFFIX = " updated revision text"


def _cdc_stream_src_dir(spark, sf_dir: str) -> str:
    """Stage a deterministic 3-batch CDC feed over the doc_id % 5 = 0
    slice: b0 inserts the % 3 != 0 docs; b1 inserts the % 3 = 0 (% 7 != 0)
    docs and UPDATES every % 7 = 0 doc with rewritten text; b2 DELETES
    the % 11 = 0 docs. One file per batch (maxFilesPerTrigger=1)."""
    import shutil as _shutil

    from ..catalog import load_table

    key = os.path.abspath(sf_dir)
    d = _docs_stream_cache.get(key + "#cdc")
    if d is not None and os.path.isdir(d):
        return d
    base = tempfile.mkdtemp(prefix="eiws_cdc_feed_")
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    batches = [
        docs.filter("doc_id % 3 != 0").selectExpr(
            "'I' AS Op", "doc_id", "text"
        ),
        docs.filter("doc_id % 3 = 0 AND doc_id % 7 != 0")
        .selectExpr("'I' AS Op", "doc_id", "text")
        .unionByName(
            docs.filter("doc_id % 7 = 0").selectExpr(
                "'U' AS Op", "doc_id",
                f"text || '{_CDC_UPD_SUFFIX}' AS text",
            )
        ),
        docs.filter("doc_id % 11 = 0").selectExpr(
            "'D' AS Op", "doc_id", "CAST(NULL AS STRING) AS text"
        ),
    ]
    for k, b in enumerate(batches):
        sub = os.path.join(base, f"p{k}")
        b.coalesce(1).sortWithinPartitions("doc_id").write.parquet(sub)
        for fn in sorted(os.listdir(sub)):
            if fn.endswith(".parquet"):
                dst = os.path.join(flat, f"b{k}.parquet")
                _shutil.copy(os.path.join(sub, fn), dst)
                # pin strictly-increasing mtimes: the file source orders
                # by modification time, and copy mtimes can tie on fast
                # filesystems — CDC correctness REQUIRES b0→b1→b2 (U
                # after I, D last), so the order must not rest on a
                # lexicographic tiebreak (ADVICE r12)
                os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    _docs_stream_cache[key + "#cdc"] = flat
    return flat


from .dedup import (  # noqa: E402
    HASHED_SHINGLES_D as _HSH_D,
    SHINGLES_D as _SH_D,
    _band_exprs as _band_exprs_d,
    _minhash_exprs as _mh_exprs_d,
)


@query(
    "q_stream_cdc_store",
    # Ground truth: signature the POST-CDC corpus from scratch — the
    # % 5 = 0 slice minus the deleted % 11 = 0 docs, with % 7 = 0 docs
    # carrying the updated text. The Spark side never recomputes: it
    # returns the store state the CDC stream maintained, so equality
    # proves insert/update/delete folding AND exactly-once batching.
    oracle=f"""
    WITH u AS (SELECT doc_id,
                      CASE WHEN doc_id % 7 = 0
                           THEN text || '{_CDC_UPD_SUFFIX}'
                           ELSE text END AS text
               FROM documents
               WHERE doc_id % 5 = 0 AND doc_id % 11 <> 0),
         s AS (SELECT doc_id, {_SH_D} AS __sh FROM u),
         hs AS (SELECT doc_id, {_HSH_D} AS __hs FROM s),
         m AS (SELECT doc_id, {', '.join(_mh_exprs_d('duck'))} FROM hs)
    SELECT *, {', '.join(_band_exprs_d())} FROM m
    """,
    tags=("streaming:cdc-sig-store", "merge", "snapshot-table", "foreachBatch"),
)
def q_stream_cdc_store(spark, sf_dir) -> DataFrame:
    """CDC-maintained signature store: an I/U/D feed drained as three
    micro-batches, each folded into an (initially empty) merge-on-read
    store with one atomic scope-stamped MERGE — the graded output is the
    STORE STATE, matched against a from-scratch signature of the
    post-CDC corpus."""
    from ..tables import SnapshotTable
    from .dedup import _SIG_DDL

    base = tempfile.mkdtemp(prefix="eiws_cdc_store_")
    store = SnapshotTable.create(
        spark, os.path.join(base, "sigs"), _SIG_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    src = spark.readStream.schema("Op string, doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(_cdc_stream_src_dir(spark, sf_dir))

    with _microbatch_confs(spark):
        stream_cdc_sig_store(spark, src, store, os.path.join(base, "cp"))
    return store.scan()


# --------------------------------------------------------------------------
# Streaming cluster maintenance: the foreachBatch twin of
# d_incremental_clusters — each document micro-batch folded into the
# persisted component labels as it arrives. No replay stamp is needed
# for correctness here (unlike the summed-count MERGE folds): both
# commits a fold makes are idempotent by construction — a replayed batch
# finds its keys stored and re-merges identical signatures and labels
# (after a crash between the two commits, the keyed `_append_new_ids`
# anti-join drops the signatures already there) — so the at-least-once
# foreachBatch contract converges to exactly-once state.

from .dedup import INCR_CLUSTERS_ORACLE as _INCR_CLUSTERS_ORACLE  # noqa: E402


def _microbatch_confs(spark):
    """Micro-batch tuning scope for the bounded streaming queries: pin
    shuffle.partitions low (each fold moves O(batch) rows — 32-way
    shuffles are pure scheduling overhead) and disable AQE for the
    drain. Every AQE shuffle stage schedules as its OWN Spark job, and a
    cluster fold runs ~10 small stages — measured r15: a steady-state
    sf0.1 fold dropped 6.0s/28 jobs -> 3.6s/21 jobs with AQE off, with
    zero plan-quality loss at micro-batch sizes (nothing to re-plan: the
    batch side is small by contract and the store joins are already
    map-side-pruned). Correctness under AQE-off is regression-tested
    (tests/test_round14_ops.py). Production mega-batch folds should keep
    AQE for its skew handling — this scope is the micro-batch path only.
    """
    return scoped_confs(
        spark,
        {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "false"},
    )


@query(
    "q_stream_cluster_maintain",
    # d_incremental_clusters' oracle VERBATIM: micro-batched folds
    # compose (proven by the one-shot tier's pytest), so the drained
    # store state answers the same full-recompute contract
    oracle=_INCR_CLUSTERS_ORACLE,
    tags=("streaming:cluster-maintain", "graph", "snapshot-table", "foreachBatch"),
)
def q_stream_cluster_maintain(spark, sf_dir) -> DataFrame:
    """Micro-batched cluster maintenance: three document micro-batches
    folded in turn into the persisted component labels (signatures
    committed batch-by-batch, only edge-touched components
    re-contracted); the graded output is the drained LABEL-STORE STATE,
    matched against the from-scratch component recompute over
    corpus ∪ batch — cross-batch merges included (a batch-N doc can
    bridge components first seen in batches < N)."""
    from ..catalog import clone_store
    from ..tables import SnapshotTable
    from .dedup import (
        _incremental_labels_store_for,
        _incremental_store_for,
        fold_batch_clusters,
    )

    # fresh store-pair CLONE per run (the run appends snapshots to both);
    # hardlink clones — staging cost is O(files), not O(bytes) (r13
    # VERDICT task 4: copytree was the heaviest fixed cost in the suite)
    day1_sigs = _incremental_store_for(spark, sf_dir)
    day1_labels = _incremental_labels_store_for(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="eiws_cluster_stream_")
    sig_root = os.path.join(base, "sigs")
    label_root = os.path.join(base, "labels")
    clone_store(day1_sigs, sig_root)
    clone_store(day1_labels, label_root)
    sig_store = SnapshotTable(spark, sig_root)
    label_store = SnapshotTable(spark, label_root)

    src = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(_incr_stream_src_dir(spark, sf_dir))

    def _fb(bdf, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        fold_batch_clusters(
            bdf.sparkSession, bdf.select("doc_id", "text"),
            sig_store, label_store, append=True,
        )

    with _microbatch_confs(spark):
        q = (
            src.writeStream.foreachBatch(_fb)
            .option("checkpointLocation", os.path.join(base, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return label_store.scan().select("doc_id", "label")


# --------------------------------------------------------------------------
# Streaming CDC cluster maintenance (r14): the full I/U/D lifecycle through
# the cluster tier — q_stream_cdc_store proves CDC folding for the
# SIGNATURE store; this proves it for the DERIVED label state, where a
# delete or an update's retraction can SPLIT a component. Each
# micro-batch is one `apply_cdc_batch_clusters` call: the batch's
# signatures replace or delete their keys' old ones, the components of
# the stored keys are re-labeled from their survivors' edges, and the
# components the batch's new edges reach are re-contracted. Replay-safe
# with NO stamp: every probe reads the pre-batch snapshots and both
# commits are idempotent, so a replayed batch converges to the same state.

from .dedup import clusters_oracle as _clusters_oracle  # noqa: E402


@query(
    "q_stream_cluster_cdc",
    # from-scratch components over the POST-CDC corpus: the % 5 = 0 slice
    # minus the deleted % 11 = 0 docs, % 7 = 0 docs carrying updated text
    # (the same universe q_stream_cdc_store grades its signature store on)
    oracle=_clusters_oracle(
        f"""SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || '{_CDC_UPD_SUFFIX}'
                        ELSE text END AS text
            FROM documents
            WHERE doc_id % 5 = 0 AND doc_id % 11 <> 0"""
    ),
    tags=("streaming:cluster-cdc", "graph", "snapshot-table", "foreachBatch"),
)
def q_stream_cluster_cdc(spark, sf_dir) -> DataFrame:
    """CDC-maintained dup-cluster labels: the I/U/D feed drained as three
    micro-batches into an initially-empty signature-store + label-store
    pair — deletes and updates split the components they leave
    (re-derived from surviving signatures), inserts and updated texts
    merge the components they reach. The graded output is the drained
    LABEL-STORE STATE, matched against the from-scratch component
    recompute over the post-CDC corpus."""
    from ..tables import SnapshotTable
    from .dedup import _LABELS_DDL, _SIG_DDL, apply_cdc_batch_clusters

    base = tempfile.mkdtemp(prefix="eiws_cluster_cdc_")
    sig_store = SnapshotTable.create(
        spark, os.path.join(base, "sigs"), _SIG_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    label_store = SnapshotTable.create(
        spark, os.path.join(base, "labels"), _LABELS_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    src = spark.readStream.schema("Op string, doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(_cdc_stream_src_dir(spark, sf_dir))

    def _fb(bdf, batch_id: int) -> None:
        # one union-find and one label MERGE per batch; the same-key D+U
        # upsert-wins resolution and the distributed fallback are
        # documented at plans/dedup.py:_cluster_cdc
        apply_cdc_batch_clusters(bdf.sparkSession, bdf, sig_store, label_store)

    with _microbatch_confs(spark):
        q = (
            src.writeStream.foreachBatch(_fb)
            .option("checkpointLocation", os.path.join(base, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return label_store.scan().select("doc_id", "label")
