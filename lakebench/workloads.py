"""The benchmark workloads.

A workload builds its starting state once in `setup` and generates its
op inputs and expected results in `prepare`. The timed loop then runs
*rounds*: `start_round` hardlink-clones the starting state into a fresh
directory, `ops` hands out the round's ops (the same `ROUND_OPS` inputs
in the same order every round, so every round walks the same history
depths), and `end_round` checks the round's end state. An op returns the
number of input rows it consumed and raises `WrongResult` when its output
disagrees with the workload's model.
"""

from __future__ import annotations

import os
import shutil
import sys
from datetime import datetime, timedelta

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import CDC_COLUMNS, CDC_DUCK_COLUMNS, DAY_ROWS, CdcFeed, DocFeed


class WrongResult(Exception):
    pass


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _expect(what: str, got, want) -> None:
    if got != want:
        raise WrongResult(f"{what}: got {got!r}, expected {want!r}")


def _norm(v):
    if isinstance(v, (pd.Timestamp, datetime)):
        return v.isoformat(sep=" ")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


def _canon_rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def _report_diff(what: str, got: list, want: list) -> bool:
    """True (and a note on stderr) when the two sorted row lists differ."""
    if got == want:
        return False
    first = next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)
    print(f"wrong {what}: {len(got)} rows, expected {len(want)}; first difference {first}", file=sys.stderr)
    return True


class _Rounds:
    """Set-up and round directories. Every `setup` call builds the same
    starting state from the seed under `<root>/base-<n>`, replacing the
    previous one; each round works on a hardlink clone of the last under
    `<root>/round-<n>`, and the previous round's clone is removed when the
    next one starts."""

    def __init__(self, ctx, dirname: str):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, dirname)
        self.base = self.round_dir = None
        self.setups = self.rounds = 0

    def _new_base(self) -> None:
        if self.base:
            shutil.rmtree(self.base)
        self.setups += 1
        self.base = os.path.join(self.root, f"base-{self.setups}")

    def _new_round_dir(self) -> str:
        from emr_apache_iceberg_workshop_spark.catalog import clone_store

        if self.round_dir:
            shutil.rmtree(self.round_dir)
        self.rounds += 1
        self.round_dir = os.path.join(self.root, f"round-{self.rounds}")
        clone_store(self.base, self.round_dir)
        return self.round_dir

    def ops(self):
        for i in range(self.ROUND_OPS):
            yield lambda i=i: self._op(i)

    def stored_bytes(self) -> int:
        return dir_bytes(*self.tables())


class _CdcModel:
    """Latest-per-key state of a CDC feed after the bronze quality filter,
    applied row by row in event order (rows carry distinct timestamps)."""

    def __init__(self):
        self.rows: dict[tuple[int, int], list[str]] = {}

    def apply(self, rows: list[list[str]]) -> None:
        for r in rows:
            if not (float(r[5]) > 0 and int(r[6]) > 0):
                continue
            key = (int(r[2]), int(r[3]))
            if r[0] == "D":
                self.rows.pop(key, None)
            else:
                self.rows[key] = r


# ---------------------------------------------------------------- medallion


class MedallionCdc(_Rounds):
    """Raw TSV → bronze (COW append) → silver (MOR MERGE with deletes).
    One op lands one CDC file and runs both pipeline stages."""

    name = "medallion_cdc"
    # the bulk load is two days of order lines, each op lands one more day
    BULK_FILES, ROUND_OPS, DAY = 2, 4, DAY_ROWS

    def __init__(self, ctx):
        super().__init__(ctx, "medallion")

    def setup(self) -> None:
        from emr_apache_iceberg_workshop_spark.pipelines import run_bronze_silver, run_raw_bronze

        self._raw_bronze, self._bronze_silver = run_raw_bronze, run_bronze_silver
        self._new_base()
        os.makedirs(os.path.join(self.base, "raw"))
        self.feed = CdcFeed(self.ctx.seed)
        self.files = [self._write(self.base, k) for k in range(self.BULK_FILES)]
        self._run_pipeline(self.base, self.BULK_FILES)

    def _write(self, where: str, k: int) -> str:
        path = os.path.join(where, "raw", f"cdc-{k:05d}.csv")
        self.feed.write_batch(path, self.DAY, mtime=1_700_000_000 + k)
        return path

    def _run_pipeline(self, where: str, k: int) -> dict:
        from emr_apache_iceberg_workshop_spark.pipelines import BronzeSilverConfig, RawBronzeConfig

        bronze, silver = os.path.join(where, "bronze"), os.path.join(where, "silver")
        rb = RawBronzeConfig(os.path.join(where, "raw"), bronze, os.path.join(where, "ckpt", "raw.json"))
        bs = BronzeSilverConfig(bronze, silver, os.path.join(where, "ckpt", "silver.json"), apply_deletes=True)
        self._raw_bronze(self.ctx.spark, rb, clock=datetime(2024, 6, 1) + timedelta(seconds=k))
        return self._bronze_silver(self.ctx.spark, bs)

    def prepare(self) -> None:
        staged = os.path.join(self.root, "ops")
        os.makedirs(os.path.join(staged, "raw"))
        self.op_files = [self._write(staged, self.BULK_FILES + i) for i in range(self.ROUND_OPS)]
        self.input_bytes = sum(os.path.getsize(p) for p in self.files + self.op_files)
        model = _CdcModel()
        model.apply(self._read_rows(self.files))
        self.want_counts = []
        for path in self.op_files:
            model.apply(self._read_rows([path]))
            self.want_counts.append(len(model.rows))
        cols = CDC_COLUMNS[1:]
        files = ", ".join(f"'{p}'" for p in self.files + self.op_files)
        want = duckdb.connect().execute(f"""
            SELECT {', '.join(cols).replace('orderdate', 'CAST(orderdate AS VARCHAR) AS orderdate')} FROM (
              SELECT *, row_number() OVER (PARTITION BY invoiceid, itemid
                                           ORDER BY replicadmstimestamp DESC) AS rn
              FROM read_csv([{files}], delim='\t', header=true, columns={CDC_DUCK_COLUMNS})
              WHERE price > 0 AND quantity > 0)
            WHERE rn = 1 AND Op <> 'D'""").df()
        self.want_silver = _canon_rows(want, cols)
        if self.want_counts[-1] != len(self.want_silver):
            raise RuntimeError("the Python and DuckDB models of the CDC feed disagree")

    @staticmethod
    def _read_rows(files: list[str]) -> list[list[str]]:
        rows = []
        for path in files:
            with open(path) as f:
                rows += [line.rstrip("\n").split("\t") for line in f.readlines()[1:]]
        return rows

    def start_round(self) -> None:
        self._new_round_dir()

    def _op(self, i: int) -> int:
        src = self.op_files[i]
        os.link(src, os.path.join(self.round_dir, "raw", os.path.basename(src)))
        report = self._run_pipeline(self.round_dir, self.BULK_FILES + i + 1)
        _expect("silver rows", report["rows"], self.want_counts[i])
        return self.DAY

    def end_round(self) -> bool:
        """True when the round's silver table is not the model's."""
        from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

        got = SnapshotTable(self.ctx.spark, os.path.join(self.round_dir, "silver")).scan().toPandas()
        return _report_diff("silver", _canon_rows(got, CDC_COLUMNS[1:]), self.want_silver)

    def tables(self) -> list[str]:
        return [os.path.join(self.round_dir, "bronze"), os.path.join(self.round_dir, "silver")]

    def close(self) -> None:
        pass


# -------------------------------------------------------------- dedup drain


class DedupDrain(_Rounds):
    """Structured Streaming `foreachBatch` drain of an I/U/D document feed
    (one file per trigger) into a signature store + label store pair.
    Each round starts a new query over a new feed directory."""

    name = "dedup_drain"
    # the sf0.1 CDC feed of `q_stream_cluster_cdc` drains 1,186 I/U/D rows
    # of a 1,000-doc slice of documents.parquet in three triggers: here a
    # 200-doc corpus takes three triggers of 400 rows
    CORPUS, ROUND_OPS, BATCH_DOCS = 200, 3, 400

    def __init__(self, ctx):
        super().__init__(ctx, "drain")
        self.query = None
        self._confs = None
        self.progress: list[dict] = []  # durationMs of each op's micro-batch, in op order

    def setup(self) -> None:
        from emr_apache_iceberg_workshop_spark.plans import dedup
        from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

        spark = self.ctx.spark
        self._new_base()
        os.makedirs(self.base)
        self.feed = DocFeed(self.ctx.seed)
        corpus_path = os.path.join(self.base, "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(self.feed.initial(self.CORPUS), preserve_index=False), corpus_path)
        sigs, labels = os.path.join(self.base, "sigs"), os.path.join(self.base, "labels")
        dedup.build_signature_store(spark, spark.read.parquet(corpus_path), sigs)
        dedup.build_label_store(spark, SnapshotTable(spark, sigs), labels)
        self.input_bytes = os.path.getsize(corpus_path)

    def prepare(self) -> None:
        from emr_apache_iceberg_workshop_spark.plans.dedup import clusters_oracle
        from emr_apache_iceberg_workshop_spark.plans.streamingq import _microbatch_confs

        staged = os.path.join(self.root, "batches")
        os.makedirs(staged)
        self.batch_files, self.batch_rows = [], []
        for i in range(self.ROUND_OPS):
            batch = self.feed.batch(self.BATCH_DOCS)
            path = os.path.join(staged, f"batch-{i:05d}.parquet")
            pq.write_table(pa.Table.from_pandas(batch, preserve_index=False), path)
            self.batch_files.append(path)
            self.batch_rows.append(len(batch))
            self.input_bytes += os.path.getsize(path)
        con = duckdb.connect()
        con.register("documents", self.feed.corpus())
        # the same query, with its candidate pairs computed once instead of
        # once per step of the recursive closure
        oracle = clusters_oracle()
        materialized = oracle.replace("cand AS (", "cand AS MATERIALIZED (").replace(
            "edges AS (", "edges AS MATERIALIZED (")
        if materialized.count("MATERIALIZED") != 2:
            raise RuntimeError("clusters_oracle() no longer has the cand/edges CTEs")
        self.want_labels = sorted(con.execute(materialized).fetchall())
        self._confs = _microbatch_confs(self.ctx.spark)
        self._confs.__enter__()

    def start_round(self) -> None:
        from emr_apache_iceberg_workshop_spark.plans import dedup
        from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

        ctx = self.ctx
        where = self._new_round_dir()
        self.feed_dir = os.path.join(where, "feed")
        os.makedirs(self.feed_dir)
        self.sig_store = sig_store = SnapshotTable(ctx.spark, os.path.join(where, "sigs"))
        self.label_store = label_store = SnapshotTable(ctx.spark, os.path.join(where, "labels"))

        def apply_batch(bdf, batch_id):
            with ctx.span("streaming.foreach_batch"):
                dedup.apply_cdc_batch_clusters(bdf.sparkSession, bdf, sig_store, label_store)

        src = (ctx.spark.readStream.schema("Op string, doc_id bigint, text string")
               .option("maxFilesPerTrigger", "1").parquet(self.feed_dir))
        self.query = (src.writeStream.foreachBatch(apply_batch)
                      .option("checkpointLocation", os.path.join(where, "cp")).start())

    def _op(self, i: int) -> int:
        src = self.batch_files[i]
        os.link(src, os.path.join(self.feed_dir, os.path.basename(src)))
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        return self.batch_rows[i]

    def end_round(self) -> bool:
        """Stop the round's query; True when its label store is not the
        oracle's clustering of the post-CDC corpus."""
        self.query.stop()
        batches = {p.batchId: p.durationMs for p in self.query.recentProgress if p.numInputRows > 0}
        durations = [batches[b] for b in sorted(batches)][-self.ROUND_OPS:]
        # one entry per op; an op whose progress was not reported gets {}
        self.progress += [{}] * (self.ROUND_OPS - len(durations)) + durations
        self.query = None
        got = sorted(map(tuple, self.label_store.scan().select("doc_id", "label").collect()))
        return _report_diff("labels", got, self.want_labels)

    def tables(self) -> list[str]:
        return [self.sig_store.root, self.label_store.root]

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self._confs is not None:
            self._confs.__exit__(None, None, None)
            self._confs = None


WORKLOADS = {w.name: w for w in (MedallionCdc, DedupDrain)}
