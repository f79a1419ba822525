"""DSv2 format-surface queries: `spark.read.format("eiws")` driven through
the driver's DuckDB oracle gate. The reference exposes its tables through
`spark.read.format("iceberg")` with snapshot-range options
(`bronze-silver.py:146-149`); these queries prove the equivalent format
surface here — including the pyarrow read path's MOR delete resolution and
its filter pushdown — against an independent raw-parquet reconstruction
(same oracle doctrine as the q_meta_* family: the oracle never sees the
engine, only the committed files)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, functions as F

from ..functions import dsum
from .registry import query
from .tablemeta import DEMO_ROOT, _demo_table


def _format_df(spark, **options) -> DataFrame:
    from ..sources import dsv2

    _demo_table(spark)  # deterministic fixture (append, append, MOR merge)
    dsv2.register(spark)
    r = spark.read.format(dsv2.FORMAT_NAME).option("table", DEMO_ROOT)
    for k, v in options.items():
        r = r.option(k.replace("_", "-"), str(v))
    return r.load()


# MOR resolution from raw files alone: the delete file committed at s3
# suppresses earlier-dir rows by key; s3's own upsert dir is unaffected.
_LIVE = f"""
    WITH base AS (
      SELECT id, category, qty
      FROM read_parquet('{DEMO_ROOT}/data/s1/*/*.parquet', hive_partitioning = true)
      UNION ALL
      SELECT id, category, qty
      FROM read_parquet('{DEMO_ROOT}/data/s2/*/*.parquet', hive_partitioning = true)),
    dels AS (SELECT id FROM read_parquet('{DEMO_ROOT}/deletes/s3/*.parquet')),
    live AS (
      SELECT * FROM base WHERE id NOT IN (SELECT id FROM dels)
      UNION ALL
      SELECT id, category, qty
      FROM read_parquet('{DEMO_ROOT}/data/s3/*/*.parquet', hive_partitioning = true))
""".strip()


@query(
    "q_dsv2_scan",
    oracle=f"""
    {_LIVE}
    SELECT id, category, qty FROM live
    """,
    tags=("dsv2", "tablemeta"),
)
def q_dsv2_scan(spark, sf_dir) -> DataFrame:
    """Current-state read through the registered format: the pyarrow
    executors resolve the MOR equality-delete state per file slice."""
    return _format_df(spark).select("id", "category", "qty")


@query(
    "q_dsv2_incremental",
    # (1, 2] holds exactly the s2 append — the reference's
    # start/end-snapshot-id option shape (`bronze-silver.py:146-149`)
    oracle=f"""
    SELECT id, category, qty
    FROM read_parquet('{DEMO_ROOT}/data/s2/*/*.parquet', hive_partitioning = true)
    """,
    tags=("dsv2", "incremental"),
)
def q_dsv2_incremental(spark, sf_dir) -> DataFrame:
    return _format_df(
        spark, start_snapshot_id=1, end_snapshot_id=2
    ).select("id", "category", "qty")


@query(
    "q_dsv2_pushdown",
    # the Spark side routes this filter through pushFilters (file-level
    # manifest pruning) AND Spark's own row filter; the oracle filters the
    # independent reconstruction — equal results prove pruning is lossless
    oracle=f"""
    {_LIVE}
    SELECT category, COUNT(*) AS n_rows, CAST(SUM(qty) AS BIGINT) AS total_qty,
           MIN(id) AS min_id, MAX(id) AS max_id
    FROM live WHERE qty >= 20 AND category IN ('a', 'b')
    GROUP BY category
    """,
    tags=("dsv2", "pushdown"),
)
def q_dsv2_pushdown(spark, sf_dir) -> DataFrame:
    return (
        _format_df(spark)
        .filter("qty >= 20 AND category IN ('a', 'b')")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").cast("bigint").alias("total_qty"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# write + streaming surfaces. Each run REBUILDS its sink from scratch so
# the write path is genuinely exercised every execution (a cached table
# would degrade these to plain reads); only the deterministic stream
# SOURCE table is cached per sf_dir.

_stream_src_cache: dict = {}


@query(
    "q_dsv2_write",
    # the oracle recomputes from the INPUT parquet — it never sees the
    # table the format writer produced, so agreement proves the
    # write -> manifest -> independent-pyarrow-read chain end to end
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS DOUBLE) / 100
               AS total_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey % 100 = 0
    GROUP BY o_orderpriority
    """,
    tags=("dsv2", "write"),
)
def q_dsv2_write(spark, sf_dir) -> DataFrame:
    """`df.write.format("eiws")` round trip at data scale: an sf-scaled
    orders sample is written through the DSv2 Arrow writer into an
    identity-partitioned table (partition dirs + manifests built by the
    pyarrow executors), then read back through the independent format
    reader and aggregated. Reference write shape: `raw-bronze.py:104-107`
    / `bronze-silver.py:194` format-level Iceberg saves."""
    from ..sources import dsv2
    from ..tables import SnapshotTable

    dsv2.register(spark)
    src = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    root = os.path.join(tempfile.gettempdir(), "eiws_q_dsv2_write")
    shutil.rmtree(root, ignore_errors=True)
    SnapshotTable.create(
        spark, root, src.schema, partition_by=["o_orderpriority"]
    )
    src.write.format("eiws").mode("append").option("table", root).save()
    back = spark.read.format("eiws").option("table", root).load()
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _stream_source_table(spark, sf_dir: str) -> str:
    """Deterministic appends-only source: customers in three append
    snapshots (cached per sf_dir — the SOURCE is read-only)."""
    from ..tables import SnapshotTable

    key = os.path.abspath(sf_dir)
    root = _stream_src_cache.get(key)
    if root and SnapshotTable.exists(root):
        return root
    root = os.path.join(tempfile.mkdtemp(prefix="eiws_dsv2_stream_src_"), "tbl")
    cust = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    t = SnapshotTable.create(spark, root, cust.schema)
    for lo, hi in ((0, 4), (4, 7), (7, 10)):
        third = cust.filter(
            (F.col("c_custkey") % 100 >= lo * 10) & (F.col("c_custkey") % 100 < hi * 10)
        )
        t.write(third, mode="append")
    _stream_src_cache[key] = root
    return root


@query(
    "q_dsv2_stream",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal * 100 AS BIGINT)) AS DOUBLE) / 100
               AS total_bal
    FROM customer WHERE c_custkey % 10 = 0
    GROUP BY c_mktsegment
    """,
    tags=("dsv2", "streaming"),
)
def q_dsv2_stream(spark, sf_dir) -> DataFrame:
    """Both DSv2 streaming surfaces end to end:
    `spark.readStream.format("eiws")` tails an appends-only table's
    snapshots (offsets = snapshot ids) and
    `df.writeStream.format("eiws")` lands each microbatch as an
    exactly-once append commit; the aggregate runs over the SINK table,
    so equality with the batch recompute over the raw parquet is the
    no-loss / no-duplication proof. Reference shape: the incremental
    `start-snapshot-id` reader (`bronze-silver.py:146-149`) driven by a
    checkpoint instead of hand-carried ids."""
    from ..sources import dsv2
    from ..tables import SnapshotTable

    dsv2.register(spark)
    src_root = _stream_source_table(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="eiws_q_dsv2_stream_")
    dst_root = os.path.join(base, "dst")
    SnapshotTable.create(
        spark, dst_root, SnapshotTable(spark, src_root).schema()
    )
    q = (
        spark.readStream.format(dsv2.FORMAT_NAME)
        .option("table", src_root)
        .load()
        .writeStream.format(dsv2.FORMAT_NAME)
        .option("table", dst_root)
        .option("checkpointLocation", os.path.join(base, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        SnapshotTable(spark, dst_root)
        .scan()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "q_catalog_format_read",
    # VERSION AS OF 2 = the state after the s2 append (no deletes yet):
    # the oracle reads the raw s1+s2 parquet, never the engine
    oracle=f"""
    WITH live AS (
      SELECT id, category, qty
      FROM read_parquet('{DEMO_ROOT}/data/s1/*/*.parquet', hive_partitioning = true)
      UNION ALL
      SELECT id, category, qty
      FROM read_parquet('{DEMO_ROOT}/data/s2/*/*.parquet', hive_partitioning = true))
    SELECT category, COUNT(*) AS n_rows, CAST(SUM(qty) AS BIGINT) AS total_qty
    FROM live GROUP BY category
    """,
    tags=("dsv2", "catalog"),
)
def q_catalog_format_read(spark, sf_dir) -> DataFrame:
    """A catalog-registered NAME read through the format, with time
    travel: `spark.read.format("eiws")` with `warehouse` + `table` (the
    name, resolved through the SqlCatalog's `_catalog.json`) +
    `snapshot-id=2`. The reference's reads are catalog-name-based over
    its format reader (`bronze-silver.py:132,146-149`)."""
    from ..sources import dsv2
    from ..sqlext import SqlCatalog

    _demo_table(spark)
    dsv2.register(spark)
    wh = os.path.join(tempfile.gettempdir(), "eiws_q_catalog_wh")
    SqlCatalog(spark, wh).register("eiws_demo", DEMO_ROOT)  # idempotent
    return (
        spark.read.format(dsv2.FORMAT_NAME)
        .option("warehouse", wh)
        .option("table", "eiws_demo")
        .option("snapshot-id", "2")
        .load()
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").cast("bigint").alias("total_qty"),
        )
    )
