"""SparkSession factory and tuning (SURVEY.md §2.11 C1).

Reference parity: `raw-bronze.py:102-114` / `bronze-silver.py:60-72` build a
Glue/Iceberg session; here we build a local session with the same
performance-relevant confs (dynamic partition overwrite, snappy parquet,
AQE) minus the Iceberg catalog (no iceberg-spark-runtime jar available —
see tables.py for the snapshot-versioned parquet stand-in).

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  shuffle partition counts per stage.
- shuffle.partitions is a *local* default (≈ cores); on a real cluster this
  should be ~2-3× total cores, and AQE coalesces down.
- UTC session timezone pinned: testdata timestamps are NTZ; pinning avoids
  tz-dependent plans and keeps DuckDB-oracle comparisons exact.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# Confs that are safe (and useful) to set on an already-running session.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "snappy",
    # int64 micros, not legacy INT96: what Iceberg itself writes, what
    # external engines read natively, and the only encoding parquet
    # row-group stats cover — without it timestamp columns have NO
    # min/max, so neither this engine's manifest bounds nor an external
    # reader can prune on time, the #1 predicate at 100 TB
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Size-based broadcast ceiling (NOT a forced hint): 64 MB fits
    # comfortably in any sane executor heap and lets Catalyst/AQE broadcast
    # mid-size build sides (e.g. a signature table at small SF) instead of
    # sort-merging them. At real scale the same tables exceed the
    # threshold and the planner flips to shuffle joins on its own —
    # size-conditioned, unlike F.broadcast which forces at ANY size.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Trust the persisted sort order of bucketed tables (opt-in since
    # Spark 3 because multi-file buckets would interleave; plans/bucketed.py
    # writes exactly one file per bucket, which is the safe case). With it,
    # a join on the bucket key is SMJ with no Exchange AND no Sort.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session `confs` for the body of a `with` block and restore
    each on every exit path: a key that had a value gets it back, a key
    that was unset is unset again. The confs belong to the SESSION, so a
    query planned concurrently in another driver thread sees them too,
    and two overlapping scopes on different threads could restore each
    other's values. Every caller runs on the single driver thread
    (foreachBatch drains run their batch function serially; the one-shot
    operators are sequential); a multi-threaded caller would need a lock
    or a cloned session."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (e.g. the
    driver's). Only touches confs that are runtime-settable."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — keep going
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    return spark


def build_session(
    app_name: str = "eiws-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("EIWS_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
