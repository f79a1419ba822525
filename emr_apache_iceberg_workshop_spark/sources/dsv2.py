"""PySpark Python Data Source (DSv2) over the snapshot table format:
`spark.read.format("eiws")` with the same option surface the reference
uses on its Iceberg tables (`bronze-silver.py:146-149` reads
`spark.read.format("iceberg").option("start-snapshot-id", ...)`;
`read_iceberg_duckdb.py:22-44` attaches an external reader to the same
metadata). This closes the documented "library calls only" gap: users
who write `spark.read.format(...)` against the reference can point the
format name here and keep the call shape.

Options (all reads need `table`, or the `.load(path)` path):
- `table`           table root directory — or, with `warehouse`, a
                    CATALOG NAME resolved via `<warehouse>/_catalog.json`
                    (the SqlCatalog registry; the reference reads by
                    catalog name, `bronze-silver.py:132`)
- `warehouse`       catalog warehouse dir for name resolution
- `branch`          read a named branch's head (default `main`)
- `snapshot-id`     VERSION AS OF: snapshot id, tag, or branch name
- `as-of-timestamp` FOR TIMESTAMP AS OF (epoch seconds or ISO string)
- `start-snapshot-id` / `end-snapshot-id`
                    incremental append-range scan (start, end]
                    (reference option names, `bronze-silver.py:146-149`)

Planning is SHARED with the table layer: the live files of a snapshot
(inline and mask-file exclusions), lineage, ref and timestamp
resolution, the append range of an incremental read, renames and column
births all come from `SnapshotTable`'s session-free planning methods, so
a format rule has one definition. Execution is this module's own:
executors read the raw parquet with pyarrow and apply, per file,

- partition exclusions keyed by another spec than the file's (spec
  evolution), re-derived from the data columns per row;
- equality deletes with sequence-number semantics (a delete applies to
  rows from dirs committed BEFORE it: `del_sid > dir_sid`);
- positional deletes by (file_rel, row_index) identity;
- the historical column names of each dir (renames) and NULL for a
  column (re)created after the dir was written.

The independent references for this reader are the table-model fuzz
(`tests/test_table_model.py`, which compares it with a pure-Python
model) and the DuckDB oracles of the `q_dsv2_*` queries, which read the
raw parquet.

Scale shape: one InputPartition per live data file — Spark schedules
them like any file-based source; per-file work is a single pyarrow read
+ O(delete-batch) filtering, Arrow batches go zero-copy to the JVM.
Filter pushdown prunes whole FILES on manifest partition values and
column min/max bounds before Spark schedules anything; every filter is
also returned to Spark as unsupported, so Spark re-applies it row-level
and pruning can never change results.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

try:  # streaming Arrow writer (SPARK-48961 line); row-based fallback below
    from pyspark.sql.datasource import DataSourceStreamArrowWriter
except ImportError:  # pragma: no cover
    DataSourceStreamArrowWriter = None

from ..tables import SnapshotTable, _ddl_split, _dir_sid, _file_part

FORMAT_NAME = "eiws"


# ---------------------------------------------------------------------------
# Planner side. Every rule of the table format (which files a snapshot
# reads, exclusions, lineage, ref resolution, renames and column births)
# comes from the table layer, whose planning methods need no SparkSession:
# this module adds only the option surface and the pyarrow executor
# (`SnapshotTable(None, root)` is a session-free handle on the table).


def _schema_ddl_at(meta: dict, snapshot_id: int | None) -> str:
    """Schema DDL current as of `snapshot_id` (None = head;
    `SnapshotTable._ddl_at`), normalized to space-form DDL: metadata
    stores either "a bigint, b string" or the simpleString form
    "a:bigint,b:string", and this runs in the sessionless data-source
    worker where fromDDL is unavailable. The name/type split honors only
    a ':' BEFORE any '<' or '(' (struct-inner colons never split)."""
    ddl = meta["schema"] if snapshot_id is None else SnapshotTable._ddl_at(meta, snapshot_id)
    out = []
    for f in _ddl_split(ddl):
        if ":" in f.split("<", 1)[0].split("(", 1)[0]:
            name, typ = f.split(":", 1)
            f = f"{name.strip()} {typ.strip()}"
        out.append(f)
    return ", ".join(out)


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """Space-form DDL -> [(name, simpleString)], stripping the space
    inside parameterized types so the strings compare equal to
    DataType.simpleString()."""
    out = []
    for f in _ddl_split(ddl):
        name, typ = f.split(" ", 1)
        out.append((name, typ.strip().replace(" ", "").lower()))
    return out


def _table_root(options) -> str:
    """Resolve the table root from `table`/`path` options. SQL DDL
    (`CREATE TABLE ... USING eiws LOCATION '<root>'`) delivers the
    location as a `file:` URI — strip the scheme so every entry form
    (option, .load(path), DDL LOCATION) lands on the same POSIX path.

    With a `warehouse` option, `table` may be a CATALOG NAME instead of
    a path: it resolves through `<warehouse>/_catalog.json`, the same
    durable name→root map `SqlCatalog` maintains — the reference's reads
    are name-based through its Glue catalog (`bronze-silver.py:132`),
    and this gives the format surface the same entry:
    `spark.read.format("eiws").option("warehouse", wh)
         .option("table", "db.orders")`."""
    raw = options.get("table") or options.get("path") or ""
    if raw.startswith("file://"):
        raw = raw[len("file://") :]
    elif raw.startswith("file:"):
        raw = raw[len("file:") :]
    if not raw:
        return ""
    path = os.path.abspath(raw)
    if not SnapshotTable.exists(path):
        wh = options.get("warehouse")
        if wh:
            try:
                with open(os.path.join(wh, "_catalog.json")) as fh:
                    root = json.load(fh).get(raw.lower())
            except (OSError, ValueError):
                root = None
            if root:
                return os.path.abspath(root)
    return path


# ---------------------------------------------------------------------------
# Arrow type mapping: Spark simpleString -> pyarrow type. The worker casts
# every file (and injected partition constant) to this exact schema, so the
# batches Spark receives always match the declared read schema.
def _pa_type(simple: str):
    import pyarrow as pa

    if simple.startswith("decimal("):
        p, s = simple[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    table = {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
        "binary": pa.binary(),
    }
    if simple not in table:
        raise ValueError(f"dsv2 reader: unsupported column type {simple!r}")
    return table[simple]


def _parse_part_value(raw: str | None, simple: str):
    """Canonical partition STRING -> python value of the column type."""
    if raw is None:
        return None
    if simple in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return int(raw)
    if simple in ("double", "float"):
        return float(raw)
    if simple == "boolean":
        return raw == "true"
    if simple == "date":
        import datetime as dt

        return dt.date.fromisoformat(raw)
    return raw  # string


def _resolve_snapshot(t, meta: dict, options) -> tuple[dict | None, int | None]:
    """(snapshot entry, as_of sid) for the option surface: `snapshot-id`
    (id, tag or branch name, `SnapshotTable.scan_at`), `as-of-timestamp`
    (`scan_as_of`), else the `branch` head. `as_of` is the resolved
    snapshot's id for snapshot-id and timestamp reads (they keep the
    snapshot's schema) and None for the plain `branch` option: Iceberg's
    branch/tag schema rule — BRANCH reads use the TABLE's current schema,
    since branches are writable and writes validate against it. Shared by
    the reader's planner and DataSource.schema() so the declared schema
    and the planned read describe the same snapshot."""
    ref, ts = options.get("snapshot-id"), options.get("as-of-timestamp")
    if ref is not None or ts is not None:
        s = t._resolve_ref(meta, ref) if ref is not None else t._snapshot_as_of(meta, ts)
        return s, s["snapshot_id"]
    return t._head(meta, options.get("branch", "main")), None


def _transform_str(pf, v, src_simple: str | None):
    """Partition field `pf`'s value for source value `v` in the canonical
    dir-string domain (`_part_str` form): identity str with Spark's bool
    rendering; bucket via the Iceberg-parity murmur3 hash; hidden
    date/time transforms via _py_transform. None stays None; a None `pf`
    (a field name no spec knows) is identity on the column itself."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if pf is None:
        return str(v)
    from ..partitioning import _py_transform, iceberg_bucket

    if pf.transform == "bucket":
        return str(iceberg_bucket(v, pf.param, _spark_type(src_simple or "string")))
    return str(_py_transform(pf, v))


def _plan_entries(
    t: SnapshotTable,
    meta: dict,
    entries: list,
    deletes: list,
    as_of: int | None,
    fields: list,
    file_keep=None,
) -> list:
    """FileSlices for the live files of the given active-dir entries
    (`SnapshotTable._entry_files`), with delete files assigned by
    sequence number and the rename/birth column mapping.
    `file_keep(manifest_entry)` filters files (pushed-filter pruning);
    None keeps everything. Shared by the batch reader and the streaming
    reader (whose append-only batches pass deletes=[])."""
    by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}
    renames = t._renames(meta)
    births = t._births(meta, as_of)
    spec_of = {pf.name: pf for pf in t._all_part_fields(meta)}
    simple_of = dict(fields)
    out: list[FileSlice] = []
    for e in entries:
        rel, excl, files = t._entry_files(meta, by_sid, e)
        dsid = _dir_sid(rel)
        # deletes committed after this dir apply to its rows
        eq, pos = [], []
        for d in deletes:
            if d["sid"] <= dsid:
                continue
            if d.get("style") == "position":
                pos.append(os.path.join(t.root, d["file"]))
            else:
                eq.append(
                    {"dir": os.path.join(t.root, d["file"]), "keys": list(d["keys"])}
                )
        for f in files:
            part = _file_part(f)
            # exclusion tuples keyed by ANOTHER spec (partition-spec
            # evolution happened between this dir's write and the
            # rewrite) can't be matched against the dir name — re-derive
            # them from data columns per row in the executor, mirroring
            # the native scan (tables.py:_partition_match_expr)
            row_excl = []
            for tup in excl:
                if set(tup) == set(part):
                    continue  # same spec: `_entry_files` dropped the file
                conds = []
                for name, val in tup.items():
                    pf = spec_of.get(name)
                    src = pf.source if pf else name
                    conds.append((src, pf, simple_of.get(src), val))
                row_excl.append(conds)
            if file_keep is not None and not file_keep(f):
                continue  # pushed-filter file pruning
            cols = []
            part_values = {}
            for name, simple in fields:
                if births.get(name, 0) > dsid:
                    # (re)created after this dir: NULL even if the file
                    # carries a same-named dead column (_births rule);
                    # "" is never a parquet column, so the executor's
                    # present-check null-fills it
                    cols.append((name, "", simple))
                    continue
                hist = t._name_at(renames, dsid, name, as_of)
                # identity-partitioned dirs strip the source column from
                # the data files — inject it from the dir name. The
                # partition dict is keyed by the name AT WRITE TIME, so a
                # column renamed after the dir was written must be looked
                # up under its historical name too.
                if name in part or hist in part:
                    cols.append((name, None, simple))  # injected constant
                    part_values[name] = part.get(name if name in part else hist)
                else:
                    cols.append((name, hist, simple))
            out.append(
                FileSlice(
                    path=os.path.join(t.root, f["path"]),
                    rel=f["path"],
                    columns=cols,
                    part_values=part_values,
                    eq_deletes=eq,
                    pos_delete_dirs=pos,
                    row_excl=row_excl,
                )
            )
    return out


def _read_slice(partition):
    """Executor-side read of one FileSlice: pyarrow parquet read + MOR
    delete resolution + schema projection. Shared by the batch and
    streaming readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if partition is None or not partition.path:
        # empty-table / empty-plan sentinel (Spark calls read(None) when
        # a batch reader plans zero partitions)
        return
    # Additive schema evolution: files written BEFORE evolve_schema(add=...)
    # lack the added column entirely — read only the columns the file
    # physically has and null-fill the rest (the native scan's explicit
    # read-schema does the same, tables.py:_read_entries).
    present = set(pq.read_schema(partition.path).names)
    file_cols = [h for _n, h, _t in partition.columns if h is not None and h in present]
    t = pq.read_table(partition.path, columns=file_cols)
    n = t.num_rows
    keep = None  # None = all rows; else a python list[bool]

    if partition.pos_delete_dirs:
        dead: set[int] = set()
        for d in partition.pos_delete_dirs:
            pt = pq.read_table(d)
            rels = pt.column("file_rel").to_pylist()
            poss = pt.column("pos").to_pylist()
            dead.update(p for r, p in zip(rels, poss) if r == partition.rel)
        if dead:
            keep = [i not in dead for i in range(n)]

    if partition.row_excl:
        # cross-spec partition exclusion: re-derive the transform-space
        # value from data columns per row (see _plan_entries); a row
        # matching any exclusion tuple was rewritten by a later commit
        by_out = {name: (h, t_) for name, h, t_ in partition.columns}

        def _src_vals(src):
            h, simple = by_out.get(src, (src, None))
            if h is None:  # injected identity partition column
                return [_parse_part_value(partition.part_values.get(src), simple)] * n
            if h not in present:  # dropped/added-later: not evaluable
                return [None] * n
            return t.column(h).to_pylist()

        drop = [False] * n
        for conds in partition.row_excl:
            m = [True] * n
            for src, pf, simple, val in conds:
                vals = _src_vals(src)
                for i in range(n):
                    if m[i] and _transform_str(pf, vals[i], simple) != val:
                        m[i] = False
            for i in range(n):
                if m[i]:
                    drop[i] = True
        if any(drop):
            mask = [not x for x in drop]
            keep = mask if keep is None else [a and b for a, b in zip(keep, mask)]

    for d in partition.eq_deletes:
        dt_ = pq.read_table(d["dir"], columns=d["keys"])
        dset = set(zip(*[dt_.column(k).to_pylist() for k in d["keys"]]))
        if not dset:
            continue
        # key columns under their IN-FILE (historical) names
        by_out = {name: h for name, h, _t in partition.columns}
        kcols = []
        for k in d["keys"]:
            h = by_out.get(k, k)
            if h is None:  # key is an injected partition column
                simple = next(t_ for nm, _h, t_ in partition.columns if nm == k)
                v = _parse_part_value(partition.part_values.get(k), simple)
                kcols.append([v] * n)
            elif h not in present:  # added after this file was written
                kcols.append([None] * n)
            else:
                kcols.append(t.column(h).to_pylist())
        mask = [tup not in dset for tup in zip(*kcols)]
        keep = mask if keep is None else [a and b for a, b in zip(keep, mask)]

    if keep is not None:
        t = t.filter(pa.array(keep))

    arrays, names = [], []
    for name, hist, simple in partition.columns:
        typ = _pa_type(simple)
        if hist is None:
            v = _parse_part_value(partition.part_values.get(name), simple)
            arrays.append(pa.array([v] * t.num_rows, type=typ))
        elif hist not in present:  # schema-evolved: old file, null column
            arrays.append(pa.nulls(t.num_rows, type=typ))
        else:
            arrays.append(t.column(hist).cast(typ))
        names.append(name)
    yield from pa.table(arrays, names=names).to_batches()


# ---------------------------------------------------------------------------
@dataclass
class FileSlice(InputPartition):
    """One live data file plus everything its read needs — shipped pickled
    to the executor, so only plain python values."""

    path: str  # absolute data file path
    rel: str  # root-relative path (positional-delete row identity)
    # (output name, name in this file or None if injected, simpleString type)
    columns: list = field(default_factory=list)
    part_values: dict = field(default_factory=dict)  # injected col -> raw str
    # [{'dir': abs delete dir, 'keys': [col], 'key_types': [simple]}]
    eq_deletes: list = field(default_factory=list)
    pos_delete_dirs: list = field(default_factory=list)  # abs dirs
    # CROSS-SPEC partition exclusion (partition-spec evolution): tuples
    # keyed by a spec OTHER than this dir's layout can't be checked
    # against the dir name — they are re-derived from data columns per
    # row, exactly like the native scan's _partition_match_expr. Each
    # entry is a conjunction [(src_col, PartitionField|None, src_simple,
    # val)]; a row matching ANY entry was rewritten by a later commit →
    # dropped.
    row_excl: list = field(default_factory=list)


class SnapshotTableReader(DataSourceReader):
    def __init__(self, options, schema_fields: list[tuple[str, str]]):
        self.root = _table_root(options)
        if not self.root or not SnapshotTable.exists(self.root):
            raise ValueError(
                "eiws reader needs .option('table', <root>) or .load(<root>) "
                f"pointing at a snapshot table (got {self.root!r}; "
                f"options seen: {sorted(options.keys())})"
            )
        self.options = options
        self.fields = schema_fields  # [(name, simpleString)] in output order
        self.pushed: list[Filter] = []

    # -- filter pushdown ---------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Record prunable filters, return EVERY filter as unsupported:
        pruning only ever drops whole files that provably contain no
        matching rows, Spark still applies each predicate row-level."""
        for f in filters:
            if isinstance(
                f,
                (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                 LessThanOrEqual, In, IsNull, IsNotNull),
            ) and len(f.attribute) == 1:
                self.pushed.append(f)
        return filters

    def _file_may_match(self, f: dict, part: dict) -> bool:
        """Manifest-level pruning: False only when NO row of the file can
        satisfy every pushed filter (partition value or min/max bounds)."""
        bounds = f.get("bounds") or {}
        nulls = f.get("nulls") or {}
        for flt in self.pushed:
            col = flt.attribute[0]
            if isinstance(flt, IsNull):
                # prunable when the file provably has NO null in col:
                # a non-null partition value, or a footer null count of 0
                if col in part and part[col] is not None:
                    return False
                if col not in part and nulls.get(col) == 0:
                    return False
                continue
            if isinstance(flt, IsNotNull):
                # prunable when EVERY row is null in col
                if col in part and part[col] is None:
                    return False
                if (
                    col not in part
                    and col in nulls
                    and f.get("rows")
                    and nulls[col] >= f["rows"]
                ):
                    return False
                continue
            if col in part:
                v = part[col]
                if v is None:
                    return not isinstance(
                        flt, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                              LessThanOrEqual, In)
                    )
                lo = hi = v
            elif col in bounds:
                lo, hi = bounds[col]
            else:
                continue
            try:
                if isinstance(flt, EqualTo) and not (lo <= flt.value and flt.value <= hi):
                    return False
                if isinstance(flt, In) and not any(lo <= x <= hi for x in flt.value):
                    return False
                if isinstance(flt, GreaterThan) and not (hi > flt.value):
                    return False
                if isinstance(flt, GreaterThanOrEqual) and not (hi >= flt.value):
                    return False
                if isinstance(flt, LessThan) and not (lo < flt.value):
                    return False
                if isinstance(flt, LessThanOrEqual) and not (lo <= flt.value):
                    return False
            except TypeError:
                continue  # incomparable manifest value: keep the file
        return True

    def partitions(self):
        t = SnapshotTable(None, self.root)
        meta = t._load()
        if self.options.get("end-snapshot-id") is not None:
            lo = int(self.options.get("start-snapshot-id") or 0)
            entries = t._append_dirs(meta, lo, int(self.options["end-snapshot-id"]))
            deletes, as_of = [], None
        else:
            snap, as_of = _resolve_snapshot(t, meta, self.options)
            entries, deletes = t._snapshot_state(snap)
        out = _plan_entries(
            t, meta, entries, deletes, as_of, self.fields,
            file_keep=lambda f: self._file_may_match(f, _file_part(f)),
        )
        # zero live/matching files: the batch API still needs >= 1
        # partition (Spark otherwise calls read(None))
        return out or [FileSlice(path="", rel="", columns=[])]

    # -- executor side -----------------------------------------------------
    def read(self, partition: FileSlice):
        return _read_slice(partition)


# ---------------------------------------------------------------------------
# Write path: `df.write.format("eiws")` / `df.writeStream.format("eiws")`.
# Executors stage hive-layout parquet with pyarrow into a unique
# `data/.stage-*` dir (the same layout SnapshotTable._stage_data_dir gets
# from Spark's partitionBy); the driver-side commit() publishes it through
# SnapshotTable.commit_staged — the SAME CAS/rebase commit protocol as
# every native writer, so DSv2 and library writers can race each other
# safely. The reference writes through `writeTo(...).append()` /
# format-level saves on its Iceberg tables (`raw-bronze.py:104-107`,
# `bronze-silver.py:194`); this is that call shape.

# Hive path escaping (Spark ExternalCatalogUtils.escapePathName parity):
# these chars are %XX-escaped in partition directory names.
_PATH_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _escape_path(v: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in v)


def _spark_type(simple: str):
    """simpleString -> pyspark DataType, session-free (for the bucket
    transform's value serialization in the data-source worker)."""
    from pyspark.sql import types as T

    if simple.startswith("decimal("):
        p, s = simple[len("decimal(") : -1].split(",")
        return T.DecimalType(int(p), int(s))
    m = {
        "bigint": T.LongType(), "long": T.LongType(),
        "int": T.IntegerType(), "integer": T.IntegerType(),
        "smallint": T.ShortType(), "tinyint": T.ByteType(),
        "string": T.StringType(), "boolean": T.BooleanType(),
        "date": T.DateType(), "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(), "binary": T.BinaryType(),
        "double": T.DoubleType(), "float": T.FloatType(),
    }
    if simple not in m:
        raise ValueError(f"eiws writer: unsupported column type {simple!r}")
    return m[simple]


@dataclass
class _WriteMsg(WriterCommitMessage):
    files: int = 0
    rows: int = 0
    # stage-root-relative paths this task wrote (incl. partition subdirs).
    # The streaming commit publishes EXACTLY these — the standard Spark
    # commit-protocol shape — because its writer object is re-instantiated
    # per worker (no shared uuid rendezvous like the batch path).
    paths: list = field(default_factory=list)


class _StageWriter:
    """Shared batch/stream writer core. Instances are created driver-side
    (in the data-source worker), pickled to executors for write(), and the
    SAME instance commits driver-side — the stage dir name minted at
    construction is the rendezvous."""

    def __init__(self, options, schema_fields: list[tuple[str, str]], overwrite: bool):
        import uuid

        self.root = _table_root(options)
        if not self.root or not SnapshotTable.exists(self.root):
            raise ValueError(
                "eiws writer needs .option('table', <root>) or .save(<root>) "
                f"pointing at an existing snapshot table (got {self.root!r}); "
                "create tables with SnapshotTable.create or the SQL facade"
            )
        meta = SnapshotTable(None, self.root)._load()
        table_cols = _ddl_fields(_schema_ddl_at(meta, None))
        if sorted(schema_fields) != sorted(table_cols):
            raise ValueError(
                f"eiws writer: dataframe schema {schema_fields} does not match "
                f"table schema {table_cols}"
            )
        self.columns = table_cols  # table order
        self.part_fields = SnapshotTable._part_fields(meta)
        self.part_names = [f.name for f in self.part_fields]
        # Spark's partitionBy strips the partition COLUMN from data files:
        # identity fields strip the source column itself (the reader
        # injects it back from the dir name); transform fields strip only
        # the derived column, which never existed in the dataframe.
        ident = {f.name for f in self.part_fields if f.transform == "identity"}
        self.file_cols = [(n, t) for n, t in table_cols if n not in ident]
        types = dict(table_cols)
        self.src_types = {f.source: types[f.source] for f in self.part_fields}
        if overwrite and options.get("overwrite-mode") == "dynamic":
            # dynamic partition overwrite: replace only the partitions the
            # batch writes (Iceberg partitionOverwriteMode=dynamic); the
            # commit layer lists the staged dir's partitions and masks
            # them out of older dirs
            self.mode = "overwrite_dynamic"
        elif overwrite:
            self.mode = "overwrite"
        else:
            self.mode = "append"
        self.branch = options.get("branch", "main")
        self.stage_rel = f"data/.stage-{uuid.uuid4().hex[:12]}"

    # -- executor side -----------------------------------------------------
    def _write_batches(self, iterator) -> _WriteMsg:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        stage = os.path.join(self.root, self.stage_rel)
        out_schema = pa.schema(
            [pa.field(n, _pa_type(t)) for n, t in self.file_cols]
        )
        task = uuid.uuid4().hex[:12]
        # Bound open parquet writers per task: a task streaming many
        # distinct partition values would otherwise hold one file handle
        # per value for its whole lifetime (the classic dynamic-partition
        # write hazard; Spark's own writer sort-spills for the same
        # reason). Above the cap the least-recently-written file is
        # closed; a key seen again opens a NEW file (names stay unique
        # via the file counter). Callers who want one-file-per-partition
        # output should cluster first (df.repartition(partition cols)) —
        # same guidance as write.distribution-mode=hash on the native
        # path.
        max_open = 64
        writers: dict[tuple, object] = {}  # insertion order = LRU order
        paths: list[str] = []
        files = rows = 0
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if tbl.num_rows == 0:
                continue
            rows += tbl.num_rows
            if self.part_fields:
                cols = [
                    [
                        _transform_str(f, v, self.src_types[f.source])
                        for v in tbl.column(f.source).to_pylist()
                    ]
                    for f in self.part_fields
                ]
                groups: dict[tuple, list[int]] = {}
                for i, key in enumerate(zip(*cols)):
                    groups.setdefault(key, []).append(i)
            else:
                groups = {(): None}
            data = tbl.select([n for n, _t in self.file_cols]).cast(out_schema)
            for key, idxs in groups.items():
                part = data if idxs is None else data.take(pa.array(idxs, type=pa.int64()))
                w = writers.pop(key, None)  # pop+reinsert = move to MRU end
                if w is None:
                    if len(writers) >= max_open:
                        lru_key = next(iter(writers))
                        writers.pop(lru_key).close()
                    segs = [
                        f"{f.name}="
                        + ("__HIVE_DEFAULT_PARTITION__" if v is None else _escape_path(v))
                        for f, v in zip(self.part_fields, key)
                    ]
                    rel = os.path.join(
                        *segs, f"part-{task}-{files:04d}.snappy.parquet"
                    ) if segs else f"part-{task}-{files:04d}.snappy.parquet"
                    os.makedirs(os.path.join(stage, *segs), exist_ok=True)
                    w = pq.ParquetWriter(
                        os.path.join(stage, rel), out_schema, compression="snappy"
                    )
                    paths.append(rel)
                    files += 1
                writers[key] = w
                w.write_table(part)
        for w in writers.values():
            w.close()
        return _WriteMsg(files=files, rows=rows, paths=paths)

    # -- driver side -------------------------------------------------------
    def _commit_stage(self, mode: str | None = None, summary_extra: dict | None = None) -> int:
        stage = os.path.join(self.root, self.stage_rel)
        os.makedirs(stage, exist_ok=True)  # zero-row write: empty snapshot
        return SnapshotTable(None, self.root).commit_staged(  # commit path is Spark-free
            stage,
            self.part_names,
            mode=mode or self.mode,
            branch=self.branch,
            summary_extra=summary_extra,
        )

    def _abort_stage(self) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.root, self.stage_rel), ignore_errors=True)

    def _publish_messages(self, messages) -> None:
        """Move EXACTLY the files reported in WriterCommitMessages out of
        the shared stage dir into a fresh publish dir, then point
        `stage_rel` at it. This is the standard Spark commit-protocol
        shape: a failed task attempt's partial parquet (or a speculative
        duplicate attempt's files) sits in the stage dir but is never in
        any successful task's message, so it is swept — not committed as
        corrupt/duplicate rows. Shared by the batch commit and the
        streaming commit."""
        import shutil
        import uuid

        stage = os.path.join(self.root, self.stage_rel)
        publish = os.path.join(self.root, f"data/.stage-{uuid.uuid4().hex[:12]}")
        os.makedirs(publish, exist_ok=True)
        for m in messages:
            for rel in getattr(m, "paths", None) or []:
                dst = os.path.join(publish, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(stage, rel), dst)
        shutil.rmtree(stage, ignore_errors=True)  # sweep failed-attempt litter
        self.stage_rel = os.path.relpath(publish, self.root)


class SnapshotTableArrowWriter(_StageWriter, DataSourceArrowWriter):
    def write(self, iterator):
        return self._write_batches(iterator)

    def commit(self, messages):
        self._publish_messages(messages)
        self._commit_stage()

    def abort(self, messages):
        self._abort_stage()


_STREAM_WRITER_BASE = DataSourceStreamArrowWriter
if _STREAM_WRITER_BASE is None:  # pragma: no cover
    from pyspark.sql.datasource import DataSourceStreamWriter as _STREAM_WRITER_BASE


class SnapshotTableStreamWriter(_StageWriter, _STREAM_WRITER_BASE):
    """Exactly-once streaming append sink: each microbatch commits one
    append snapshot with (query scope, batch id) stamped into the summary
    by the table's one replay guard (`SnapshotTable.stream_stamp`, exact
    scope), so an at-least-once replay of a committed batch is dropped
    instead of duplicated.

    Unlike the batch writer, the streaming writer object is RE-CREATED in
    every python worker (executor tasks and the driver-side commit each
    call streamWriter() afresh — verified empirically), so a
    construction-time uuid can't be the task/commit rendezvous. Instead:
    tasks write into a stage root derived deterministically from the
    options (same in every worker of this query) and report their exact
    file paths in WriterCommitMessages; commit() moves ONLY the reported
    files into a fresh publish dir — the standard Spark commit-protocol
    shape, which also makes crash-replay leftovers in the stage root
    harmless (they are never in the replayed batch's messages and are
    swept after publish). Two concurrent streaming queries appending to
    the SAME table need distinct `query-scope` (or checkpointLocation)
    options to keep their stage roots apart."""

    def __init__(self, options, schema_fields, overwrite):
        import hashlib

        super().__init__(options, schema_fields, overwrite)
        if self.mode != "append":
            raise ValueError(
                "eiws stream sink supports append output mode only "
                "(complete-mode overwrite would rewrite the table each batch)"
            )
        key = options.get("query-scope") or options.get(
            "checkpointlocation"
        ) or options.get("checkpointLocation") or ""
        h = hashlib.sha1(key.encode()).hexdigest()[:12]
        # Replay-guard scope DEFAULTS to the checkpoint-location hash: a
        # NEW query on a fresh checkpoint restarts batch ids at 0, and a
        # None scope would match every unscoped snapshot already in the
        # table — silently dropping the new query's batches. Distinct
        # checkpoints must never share a replay guard; an explicit
        # `query-scope` still overrides (two queries that WANT to share
        # a guard set the same scope).
        self.scope = options.get("query-scope") or f"ckpt-{h}"
        self.stage_rel = f"data/.stage-stream-{h}"

    def write(self, iterator):
        return self._write_batches(iterator)

    def commit(self, messages, batchId):
        stamp = SnapshotTable(None, self.root).stream_stamp(self.scope, batchId, self.branch)
        if stamp is None:
            self._abort_stage()  # at-least-once replay of a committed batch
            return
        # publish exactly the files this batch's tasks reported
        self._publish_messages(messages)
        self._commit_stage(summary_extra=stamp)

    def abort(self, messages, batchId):
        self._abort_stage()


# ---------------------------------------------------------------------------
class SnapshotTableStreamReader(DataSourceStreamReader):
    """`spark.readStream.format("eiws")`: tail a table's append snapshots.
    Offsets are snapshot ids ({"snapshot_id": N} = everything through N
    has been consumed), so each microbatch is an (lo, hi] incremental
    append-range scan — the reference's start/end-snapshot-id option pair
    (`bronze-silver.py:146-149`) driven by the engine's own offset log,
    and exactly-once across restarts because the checkpoint replays the
    same snapshot ranges. Non-append commits in range raise, like every
    incremental path here (CDC wants scan_changes). `start-snapshot-id`
    (default 0 = full history) positions a FRESH checkpoint only."""

    def __init__(self, options, schema_fields: list[tuple[str, str]]):
        self.root = _table_root(options)
        if not self.root or not SnapshotTable.exists(self.root):
            raise ValueError(
                "eiws stream reader needs .option('table', <root>) or "
                f".load(<root>) pointing at a snapshot table (got {self.root!r})"
            )
        self.fields = schema_fields
        self.branch = options.get("branch", "main")
        self.start = int(options.get("start-snapshot-id") or 0)

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.start}

    def latestOffset(self) -> dict:
        t = SnapshotTable(None, self.root)
        head = t._head(t._load(), self.branch)
        sid = head["snapshot_id"] if head else 0
        return {"snapshot_id": max(sid, self.start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        if hi <= lo:
            return []
        t = SnapshotTable(None, self.root)
        meta = t._load()
        return _plan_entries(t, meta, t._append_dirs(meta, lo, hi), [], None, self.fields)

    def read(self, partition: FileSlice):
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the query checkpoint


class SnapshotTableDataSource(DataSource):
    """`spark.read.format("eiws")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        root = _table_root(self.options)
        if not root or not SnapshotTable.exists(root):
            raise ValueError(
                "eiws reader needs .option('table', <root>) or .load(<root>) "
                f"pointing at a snapshot table (got {root!r})"
            )
        t = SnapshotTable(None, root)
        meta = t._load()
        if self.options.get("end-snapshot-id") is not None:
            # incremental append-range read: current schema, like the
            # native scan_incremental (old files null-fill added columns)
            return _schema_ddl_at(meta, None)
        # snapshot-id / tag / timestamp reads declare the schema AS OF
        # the resolved snapshot (tables.py:scan_at / schema_at); the
        # plain `branch` option resolves as_of=None — branch reads use
        # the TABLE's current schema (see _resolve_snapshot)
        _snap, as_of = _resolve_snapshot(t, meta, self.options)
        return _schema_ddl_at(meta, as_of)

    def reader(self, schema) -> SnapshotTableReader:
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return SnapshotTableReader(self.options, fields)

    def writer(self, schema, overwrite: bool) -> SnapshotTableArrowWriter:
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return SnapshotTableArrowWriter(self.options, fields, overwrite)

    def streamReader(self, schema) -> SnapshotTableStreamReader:
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return SnapshotTableStreamReader(self.options, fields)

    def streamWriter(self, schema, overwrite: bool) -> SnapshotTableStreamWriter:
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return SnapshotTableStreamWriter(self.options, fields, overwrite)


def register(spark) -> None:
    """Idempotently register the format with a session. Python-data-source
    filter pushdown is opt-in (SPARK-50952); without it Spark refuses any
    reader implementing pushFilters()."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static-conf session: must be set at build time instead
    spark.dataSource.register(SnapshotTableDataSource)
