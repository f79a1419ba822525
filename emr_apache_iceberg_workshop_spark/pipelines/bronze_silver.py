"""Bronze → Silver incremental MERGE job (reference `bronze-silver.py`
end-to-end, SURVEY.md §3.2).

Semantics preserved:
- latest snapshot (main's head) lookup                  (`bronze-silver.py:116-138`)
- no-new-data short-circuit (ckpt == latest)            (`bronze-silver.py:140-142`)
- snapshot-range incremental read                       (`bronze-silver.py:146-149`)
- Avro-schema-driven empty-table DDL on first run       (`bronze-silver.py:171-203`)
- window dedup before MERGE                             (`bronze-silver.py:252-261`)
- MERGE INTO upsert on (invoiceid, itemid)              (`bronze-silver.py:263-285`)
- checkpoint saved only after successful merge          (`bronze-silver.py:315-317`)

Flag-guarded fixes (SURVEY.md §2.5, §2.11 C6 — reference-parity defaults
documented):
- `dedup_full_key=True` (default): dedup partitions by the FULL merge key
  (invoiceid, itemid). The reference partitions by invoiceid only, which
  drops sibling items of multi-item invoices; set False for bit-parity.
- `apply_deletes=False` (default, reference-parity): the reference
  generates Op='D' rows but has no DELETE branch; True enables
  WHEN MATCHED AND Op='D' THEN DELETE.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import dedup_latest
from ..schema_utils import avro_schema_to_spark_schema
from ..sources import CheckpointStore
from ..tables import SnapshotTable

# Avro schema — content parity with `bronze-silver.py:231-248`
SILVER_AVRO_SCHEMA = {
    "type": "record",
    "name": "silver_orders",
    "fields": [
        {"name": "replicadmstimestamp", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "invoiceid", "type": "long"},
        {"name": "itemid", "type": "long"},
        {"name": "category", "type": ["null", "string"]},
        {"name": "price", "type": "double"},
        {"name": "quantity", "type": "int"},
        {"name": "orderdate", "type": {"type": "int", "logicalType": "date"}},
        {"name": "destinationstate", "type": ["null", "string"]},
        {"name": "shippingtype", "type": ["null", "string"]},
        {"name": "referral", "type": ["null", "string"]},
    ],
}


@dataclass
class BronzeSilverConfig:
    bronze_root: str
    silver_root: str
    checkpoint_path: str
    merge_keys: list[str] = field(default_factory=lambda: ["invoiceid", "itemid"])
    order_col: str = "processed_time"
    partition_by: list[str] = field(default_factory=lambda: ["destinationstate"])
    avro_schema: dict | str = field(default_factory=lambda: SILVER_AVRO_SCHEMA)
    dedup_full_key: bool = True
    apply_deletes: bool = False
    write_mode_props: dict = field(
        default_factory=lambda: {
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
            "write.merge.mode": "merge-on-read",
            "write.parquet.compression-codec": "snappy",
        }
    )


def get_incremental_data(spark: SparkSession, cfg: BronzeSilverConfig):
    """Latest snapshot + checkpoint gate + incremental scan (S6/S7/S8/O1).
    "Latest" is main's head, not the newest snapshot over all refs: a
    write-audit-publish commit staged on a branch is not published data,
    and checkpointing it would skip it for good once it is published."""
    bronze = SnapshotTable(spark, cfg.bronze_root)
    latest = bronze.latest_snapshot_id()
    if latest is None:
        return None, None
    ckpt = CheckpointStore(cfg.checkpoint_path)
    last = ckpt.last_processed_snapshot()
    if last is not None and last == latest:
        return None, latest  # no-op short-circuit
    if last is None:
        return bronze.scan(), latest
    return bronze.scan_incremental(last, latest), latest


def run_bronze_silver(spark: SparkSession, cfg: BronzeSilverConfig) -> dict:
    inc, latest = get_incremental_data(spark, cfg)
    if inc is None:
        return {"rows": 0, "snapshot_id": None, "skipped": True}

    schema = cfg.avro_schema
    if isinstance(schema, str):
        schema = json.loads(schema)
    silver_schema = avro_schema_to_spark_schema(schema)

    if not SnapshotTable.exists(cfg.silver_root):
        SnapshotTable.create(
            spark,
            cfg.silver_root,
            silver_schema,
            partition_by=cfg.partition_by,
            properties=cfg.write_mode_props,
        )
    silver = SnapshotTable(spark, cfg.silver_root)

    dedup_keys = cfg.merge_keys if cfg.dedup_full_key else cfg.merge_keys[:1]
    # processed_time is a per-run constant (localtimestamp at ingest), so
    # intra-batch duplicates of a key all tie on it; the merge keys are the
    # window partition columns (constant per partition) and break nothing.
    # Order additionally by the CDC event time and Op. Tie policy: on an
    # EXACT (order_col, replicadmstimestamp) tie, 'U' outranks 'D'
    # lexically, so a delete that ties with an update is discarded and the
    # row survives — the conservative choice given `apply_deletes` (a
    # same-timestamp U+D has no defined CDC order; keeping data is
    # recoverable, deleting is not). The final tiebreaker is a
    # deterministic payload digest so two rows that tie on every ordering
    # column but differ in payload resolve identically on every run/engine
    # (rows identical in payload too are interchangeable).
    order = [F.col(cfg.order_col).desc()]
    for tiebreak in ("replicadmstimestamp", "Op"):
        if tiebreak in inc.columns and tiebreak != cfg.order_col:
            order.append(F.col(tiebreak).desc())
    order.append(F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(inc.columns)]))).desc())
    source = dedup_latest(inc, dedup_keys, order)
    # source columns = silver schema (+ Op when deletes are applied)
    keep = [f.name for f in silver_schema.fields]
    if cfg.apply_deletes:
        keep = ["Op", *keep]
    source = source.select(*keep)

    sid = silver.merge(
        source,
        cfg.merge_keys,
        op_col="Op" if cfg.apply_deletes else None,
    )
    rows = silver.scan().count()
    CheckpointStore(cfg.checkpoint_path).commit_processed_snapshot(latest)
    return {"rows": rows, "snapshot_id": sid, "skipped": False}
