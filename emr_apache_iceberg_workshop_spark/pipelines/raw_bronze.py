"""Raw → Bronze ingestion job (reference `raw-bronze.py` end-to-end,
SURVEY.md §3.1).

Semantics preserved:
- incremental file discovery by mtime watermark        (`raw-bronze.py:59-85`)
- TSV read, header + schema                            (`raw-bronze.py:117-128`)
- enrichment: input_file, processed_time, processed_date, quality filter
  price>0 AND quantity>0                               (`raw-bronze.py:207-217`)
- append vs create-on-first-run branch                 (`raw-bronze.py:178-183`)
- partition by processed_date, snappy parquet          (`raw-bronze.py:175-176,173`)
- checkpoint committed ONLY after successful write     (`raw-bronze.py:249-253`)

Deviations (documented): `current_timestamp` is injectable (`clock`) for
deterministic tests — the reference's wall-clock default remains the
default; schema can be pinned (inferSchema drift, SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import CheckpointStore, IncrementalFileSource
from ..tables import SnapshotTable

BRONZE_SCHEMA_DDL = (
    "Op string, replicadmstimestamp timestamp_ntz, invoiceid bigint, itemid bigint, "
    "category string, price double, quantity int, orderdate date, destinationstate string, "
    "shippingtype string, referral string"
)


@dataclass
class RawBronzeConfig:
    input_dir: str
    table_root: str
    checkpoint_path: str
    partition_by: list[str] = field(default_factory=lambda: ["processed_date"])
    schema_ddl: str | None = BRONZE_SCHEMA_DDL  # None → inferSchema like the reference
    write_mode_props: dict = field(
        default_factory=lambda: {
            "write.delete.mode": "copy-on-write",
            "write.update.mode": "copy-on-write",
            "write.merge.mode": "copy-on-write",
            "write.parquet.compression-codec": "snappy",
        }
    )


def _read_tsv(spark: SparkSession, files: list[str], schema_ddl: str | None) -> DataFrame:
    reader = spark.read.option("sep", "\t").option("header", "true")
    if schema_ddl:
        reader = reader.schema(schema_ddl)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(files)


def transform_bronze(df: DataFrame, clock: datetime | None = None) -> DataFrame:
    """P1 projection + P2 filter + F1-F3 scalar fns (`raw-bronze.py:207-217`)."""
    ts = F.lit(clock.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp_ntz") if clock else F.localtimestamp()
    return (
        df.select(
            "*",
            F.input_file_name().alias("input_file"),
            ts.alias("processed_time"),
            F.date_format(ts, "yyyy-MM-dd").alias("processed_date"),
        )
        .filter((F.col("price") > 0) & (F.col("quantity") > 0))
    )


def run_raw_bronze(
    spark: SparkSession, cfg: RawBronzeConfig, clock: datetime | None = None
) -> dict:
    """Returns a run report {files, rows, snapshot_id} (empty no-op report
    when no new files — `raw-bronze.py:256-257` short-circuit)."""
    ckpt = CheckpointStore(cfg.checkpoint_path)
    src = IncrementalFileSource(cfg.input_dir, ckpt)
    files, max_mtime = src.get_new_files()
    if not files:
        return {"files": 0, "rows": 0, "snapshot_id": None, "skipped": True}

    df = transform_bronze(_read_tsv(spark, files, cfg.schema_ddl), clock=clock)

    if SnapshotTable.exists(cfg.table_root):
        table = SnapshotTable(spark, cfg.table_root)
        sid = table.write(df, mode="append")
    else:
        table = SnapshotTable.create(
            spark,
            cfg.table_root,
            df.schema,
            partition_by=cfg.partition_by,
            properties=cfg.write_mode_props,
        )
        sid = table.write(df, mode="append", operation="create")

    # appended rows from the new snapshot's manifest (parquet footers)
    rows = sum(f["rows"] for f in table.snapshot(sid).files)
    # commit watermark only after the write landed
    ckpt.commit_processed_time(max_mtime)
    return {"files": len(files), "rows": rows, "snapshot_id": sid, "skipped": False}


def utcnow() -> datetime:
    return datetime.now(timezone.utc)
