"""Native Iceberg v1 metadata emission: make a SnapshotTable readable by
external engines with NO export step.

The reference's interop promise is that the silver table is a standard
Iceberg table other engines scan directly — DuckDB discovers the latest
`*.metadata.json` and calls `iceberg_scan` on it
(`read_iceberg_duckdb.py:22-44,61`); Snowflake/StarRocks/Athena map the
same metadata through their catalogs. This module closes that gap for the
engine's own snapshot layout: `write_iceberg_metadata(table)` emits a
spec-conformant `metadata/vN.metadata.json` + manifest list + manifest
(Avro object-container files per the public Avro 1.x spec, with Iceberg's
required field-ids) that reference the table's EXISTING parquet data files
in place — zero data copy. An engine with an Iceberg reader then consumes
the table off the warehouse directory exactly like the reference's
(`iceberg_scan('<root>/metadata/vN.metadata.json')`).

No Avro library ships in this environment, so the object-container writer
and a schema-driven decoder (used by tests to round-trip what external
readers would parse) are implemented here from the public specs:
- Avro binary encoding + object container: avro.apache.org/docs/1.11.1/specification/
- Iceberg table spec v1 (metadata.json, manifest list, manifest entry
  field-ids 500-514 / 0-2 / 100-105): iceberg.apache.org/spec/

Representability: a v1 Iceberg snapshot is a plain list of data files.
Partition-exclusion masks are resolved file-by-file (a masked file is
simply not listed). Partition-spec evolution emits MULTI-SPEC metadata:
each data dir's files go into a manifest of the spec current at their
commit (reconstructed from the evolve-partition log), partition field
ids are allocated from one shared registry across specs, and
`partition-specs` declares every layout — no compact() needed to read a
mixed-layout table externally. Active MOR deletes are NOT representable in v1; they
ARE in format-version 2 (sequence numbers + delete manifests), which this
module also emits — `write_iceberg_metadata` auto-selects v2 whenever the
emitted history carries delete files, so a merge-on-read table is
externally readable WITHOUT `compact()` (the reference reads its MOR
silver exactly that way: `bronze-silver.py:184-189` +
`read_iceberg_duckdb.py:61`). v2 mapping, per the public spec:
- the engine's snapshot id doubles as the sequence number (commit order
  IS id order, and the scan rule `delete.sid > row dir sid` is exactly
  the spec's "equality deletes apply to sequence numbers strictly
  smaller");
- equality-delete parquet files (the merge keys) are referenced in
  place with `content=2` + `equality_ids`;
- positional delete files are re-emitted once, driver-side, in the
  spec's column shape (`file_path` absolute, `pos`, sorted) with
  `content=1` — a copy of the (small) delete file, never of data;
- on a partitioned table, delete manifests declare an UNPARTITIONED
  spec (spec-id 1), the spec's representation of global deletes.

Scale: emission is driver-side metadata work, O(live file count + delete
file bytes) — the same cost class as an Iceberg commit, no Spark job and
no data movement.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
import uuid

# ---------------------------------------------------------------------------
# Avro binary encoding (writer) — public Avro spec, binary encoding section
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def enc_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag(int(n)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def enc_bytes(buf: io.BytesIO, b: bytes) -> None:
    enc_long(buf, len(b))
    buf.write(b)


def enc_string(buf: io.BytesIO, s: str) -> None:
    enc_bytes(buf, s.encode("utf-8"))


def _enc_value(buf: io.BytesIO, schema, value) -> None:
    """Schema-driven binary encoding for the subset of Avro used by Iceberg
    metadata files: record / union / array / map / primitives."""
    if isinstance(schema, list):  # union: branch index, then value
        if value is None and "null" in schema:
            enc_long(buf, schema.index("null"))
            return
        for i, br in enumerate(schema):
            if br != "null":
                enc_long(buf, i)
                _enc_value(buf, br, value)
                return
        raise ValueError(f"no non-null branch in union {schema}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                _enc_value(buf, f["type"], value.get(f["name"]))
            return
        if t == "array":
            items = value or []
            if items:
                enc_long(buf, len(items))
                for it in items:
                    _enc_value(buf, schema["items"], it)
            enc_long(buf, 0)
            return
        if t == "map":
            kv = value or {}
            if kv:
                enc_long(buf, len(kv))
                for k, v in kv.items():
                    enc_string(buf, k)
                    _enc_value(buf, schema["values"], v)
            enc_long(buf, 0)
            return
        if t == "fixed":
            assert len(value) == schema["size"]
            buf.write(value)
            return
        return _enc_value(buf, t, value)  # {"type": "long", ...} wrapper
    if schema == "long" or schema == "int":
        return enc_long(buf, value)
    if schema == "string":
        return enc_string(buf, value)
    if schema == "bytes":
        return enc_bytes(buf, value)
    if schema == "boolean":
        buf.write(b"\x01" if value else b"\x00")
        return
    if schema == "double":
        buf.write(struct.pack("<d", float(value)))
        return
    if schema == "float":
        buf.write(struct.pack("<f", float(value)))
        return
    if schema == "null":
        return
    raise ValueError(f"unsupported avro type {schema!r}")


_MAGIC = b"Obj\x01"
# fixed sync marker keeps emission byte-deterministic for a given table
_SYNC = bytes.fromhex("9a97f2c8d3b54e6fa1c2d3e4f5061728")


def write_avro_container(
    path: str, schema: dict, records: list[dict], meta: dict[str, str] | None = None
) -> int:
    """One-block Avro object-container file (codec null). Returns byte
    length (the manifest list records each manifest's length)."""
    buf = io.BytesIO()
    buf.write(_MAGIC)
    kv = {"avro.schema": json.dumps(schema), "avro.codec": "null"}
    kv.update(meta or {})
    enc_long(buf, len(kv))
    for k, v in kv.items():
        enc_string(buf, k)
        enc_bytes(buf, v.encode("utf-8"))
    enc_long(buf, 0)
    buf.write(_SYNC)
    body = io.BytesIO()
    for r in records:
        _enc_value(body, schema, r)
    data = body.getvalue()
    enc_long(buf, len(records))
    enc_long(buf, len(data))
    buf.write(data)
    buf.write(_SYNC)
    out = buf.getvalue()
    with open(path, "wb") as f:
        f.write(out)
    return len(out)


# ---------------------------------------------------------------------------
# Avro binary decoding (reader) — used by tests to round-trip the files the
# way an external engine's Avro layer would
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.p = 0

    def read(self, n: int) -> bytes:
        b = self.d[self.p : self.p + n]
        self.p += n
        return b

    def long(self) -> int:
        shift = acc = 0
        while True:
            b = self.d[self.p]
            self.p += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def bytes_(self) -> bytes:
        return self.read(self.long())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")


def _dec_value(r: _Reader, schema):
    if isinstance(schema, list):
        return _dec_value(r, schema[r.long()])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _dec_value(r, f["type"]) for f in schema["fields"]}
        if t == "array":
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix
                    r.long()
                    n = -n
                out.extend(_dec_value(r, schema["items"]) for _ in range(n))
        if t == "map":
            out = {}
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:
                    r.long()
                    n = -n
                for _ in range(n):
                    k = r.string()  # key before value (eval order)
                    out[k] = _dec_value(r, schema["values"])
        if t == "fixed":
            return r.read(schema["size"])
        return _dec_value(r, t)
    if schema in ("long", "int"):
        return r.long()
    if schema == "string":
        return r.string()
    if schema == "bytes":
        return r.bytes_()
    if schema == "boolean":
        return r.read(1) == b"\x01"
    if schema == "double":
        return struct.unpack("<d", r.read(8))[0]
    if schema == "float":
        return struct.unpack("<f", r.read(4))[0]
    if schema == "null":
        return None
    raise ValueError(f"unsupported avro type {schema!r}")


def read_avro_container(path: str) -> tuple[dict, dict[str, bytes], list]:
    """Decode an Avro object-container file → (writer schema, file
    metadata, records)."""
    with open(path, "rb") as f:
        r = _Reader(f.read())
    assert r.read(4) == _MAGIC, "not an avro container"
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            k = r.string()  # key MUST be read before the value (assignment
            meta[k] = r.bytes_()  # targets evaluate their subscript last)
    sync = r.read(16)
    schema = json.loads(meta["avro.schema"])
    assert meta.get("avro.codec", b"null") == b"null", "only codec null supported"
    records: list = []
    while r.p < len(r.d):
        cnt = r.long()
        r.long()  # byte length
        records.extend(_dec_value(r, schema) for _ in range(cnt))
        assert r.read(16) == sync, "sync marker mismatch"
    return schema, meta, records


# ---------------------------------------------------------------------------
# Iceberg v1 schema / manifest structures
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    "binary": "binary",
}

# Avro leaf type for an Iceberg primitive as stored in a PARTITION record
_ICEBERG_TO_AVRO = {
    "long": "long",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
    "binary": "bytes",
}


def iceberg_schema(spark_schema) -> tuple[dict, dict[str, int]]:
    """Spark StructType → Iceberg v1 schema JSON with assigned field-ids.
    Returns (schema json, name → field-id). Scalars and arrays of scalars
    cover this engine's table surface (SURVEY §1.2: the reference's Avro
    type lattice has no nested structs/maps)."""
    from pyspark.sql import types as T

    next_id = [0]
    ids: dict[str, int] = {}

    def conv(dt) -> object:
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        if isinstance(dt, T.ArrayType):
            next_id[0] += 1
            return {
                "type": "list",
                "element-id": next_id[0] + 1000,  # element ids out of column range
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        s = dt.simpleString()
        if s not in _SPARK_TO_ICEBERG:
            raise ValueError(f"unsupported type for iceberg emission: {s}")
        return _SPARK_TO_ICEBERG[s]

    fields = []
    for f in spark_schema.fields:
        next_id[0] += 1
        ids[f.name] = next_id[0]
        fields.append(
            {
                "id": ids[f.name],
                "name": f.name,
                "required": not f.nullable,
                "type": conv(f.dataType),
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}, ids


def _partition_value(raw: str | None, iceberg_type: str, transform: str = "identity"):
    """Raw (hive-unescaped) partition string → typed Iceberg partition value.
    Transformed fields store Iceberg's canonical representations: day as
    an Avro date (days since epoch), hour/month/year as int offsets from
    1970 (the directory strings are '2024-01-02-05' / '2024-01' / '2024')."""
    if raw is None:
        return None
    if transform == "days":
        import datetime as _dt

        return _dt.date.fromisoformat(raw).toordinal() - _dt.date(1970, 1, 1).toordinal()
    if transform == "hours":
        import datetime as _dt

        d, hh = raw.rsplit("-", 1)
        days = _dt.date.fromisoformat(d).toordinal() - _dt.date(1970, 1, 1).toordinal()
        return days * 24 + int(hh)
    if transform == "months":
        y, m = raw.split("-")
        return (int(y) - 1970) * 12 + (int(m) - 1)
    if transform == "years":
        return int(raw) - 1970
    if transform == "bucket":
        return int(raw)
    if iceberg_type == "long" or iceberg_type == "int":
        return int(raw)
    if iceberg_type == "double":
        return float(raw)
    if iceberg_type == "boolean":
        return raw.lower() == "true"
    return raw  # string (dates stay ISO strings only for string cols)


def _bound_bytes(value, iceberg_type: str) -> bytes | None:
    """Iceberg single-value binary serialization for manifest BOUNDS
    (spec Appendix D: little-endian numerics, UTF-8 strings, date as
    int days, timestamps as long micros). None → bound not emitted for
    that column (unsupported/unknown type)."""
    import datetime as _dt

    try:
        if iceberg_type == "long":
            return struct.pack("<q", int(value))
        if iceberg_type == "int":
            return struct.pack("<i", int(value))
        if iceberg_type == "double":
            return struct.pack("<d", float(value))
        if iceberg_type == "float":
            return struct.pack("<f", float(value))
        if iceberg_type == "string":
            return str(value).encode("utf-8")
        if iceberg_type == "boolean":
            return b"\x01" if value in (True, "true", "True") else b"\x00"
        if iceberg_type == "date":
            d = _dt.date.fromisoformat(str(value)[:10])
            return struct.pack("<i", (d - _dt.date(1970, 1, 1)).days)
        if iceberg_type in ("timestamp", "timestamptz"):
            ts = _dt.datetime.fromisoformat(str(value))
            delta = ts - _dt.datetime(1970, 1, 1, tzinfo=ts.tzinfo)
            micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            return struct.pack("<q", micros)
    except (ValueError, OverflowError):
        return None
    return None


_STATS_MAP_IDS = {  # Iceberg data_file stats maps: name → (field, key, value id)
    "value_counts": (109, 119, 120),
    "null_value_counts": (110, 121, 122),
    "lower_bounds": (125, 126, 127),
    "upper_bounds": (128, 129, 130),
}


def _stats_map_field(name: str, value_type: str) -> dict:
    fid, kid, vid = _STATS_MAP_IDS[name]
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": value_type, "field-id": vid},
                    ],
                },
            },
        ],
        "default": None,
        "field-id": fid,
    }


def _manifest_entry_schema(part_fields: list[dict], fv: int = 1) -> dict:
    """Avro writer schema for a manifest file (record `manifest_entry`,
    Iceberg spec field-ids). Format-version 2 adds entry-level sequence
    numbers and the data_file `content` / `equality_ids` fields (and
    drops v1's block_size_in_bytes)."""
    part_rec = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": p["name"],
                "type": ["null", _ICEBERG_TO_AVRO[p["type"]]],
                "default": None,
                "field-id": p["field-id"],
            }
            for p in part_fields
        ],
    }
    df_fields = [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": part_rec, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        _stats_map_field("value_counts", "long"),
        _stats_map_field("null_value_counts", "long"),
        _stats_map_field("lower_bounds", "bytes"),
        _stats_map_field("upper_bounds", "bytes"),
        {
            "name": "split_offsets",
            "type": ["null", {"type": "array", "items": "long", "element-id": 133}],
            "default": None,
            "field-id": 132,
        },
    ]
    if fv == 1:
        df_fields.append(
            {"name": "block_size_in_bytes", "type": "long", "field-id": 105}
        )
    else:
        df_fields.insert(
            0, {"name": "content", "type": "int", "field-id": 134}
        )
        df_fields.append(
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
                "default": None,
                "field-id": 135,
            }
        )
    data_file = {"type": "record", "name": "r2", "fields": df_fields}
    entry_fields = [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
    ]
    if fv == 2:
        entry_fields += [
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        ]
    entry_fields.append({"name": "data_file", "type": data_file, "field-id": 2})
    return {"type": "record", "name": "manifest_entry", "fields": entry_fields}


def _manifest_list_schema(fv: int = 1) -> dict:
    fields = [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
    ]
    if fv == 2:
        fields += [
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
        ]
    fields += [
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None, "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"], "default": None, "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"], "default": None, "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "default": None, "field-id": 506},
        {"name": "added_rows_count", "type": ["null", "long"], "default": None, "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"], "default": None, "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"], "default": None, "field-id": 514},
    ]
    return {"type": "record", "name": "manifest_file", "fields": fields}


_MANIFEST_LIST_SCHEMA = _manifest_list_schema(1)


def _pos_delete_conforming(root: str, meta_dir: str, drel: str) -> tuple[str, int, int]:
    """Re-emit one positional delete dir in the Iceberg spec's column
    shape — `file_path` (absolute, field-id 2147483546), `pos`
    (2147483545), sorted — as a single parquet under metadata/.
    Deterministic name so re-emission overwrites in place. Returns
    (path, record_count, byte_size). Driver-side pyarrow, O(delete file
    size) — a copy of the small delete file, never of data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = os.path.join(root, drel)
    tables = []
    for dirpath, _dirs, files in os.walk(src_dir):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                tables.append(pq.read_table(os.path.join(dirpath, fn)))
    tbl = pa.concat_tables(tables)
    rows = sorted(
        (os.path.join(root, rel), int(p))
        for rel, p in zip(tbl.column("file_rel").to_pylist(), tbl.column("pos").to_pylist())
    )
    out = pa.table(
        {
            "file_path": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    name = f"{uuid.uuid5(uuid.NAMESPACE_URL, root + 'pd' + drel)}-pos.parquet"
    path = os.path.join(meta_dir, name)
    pq.write_table(out, path, compression="snappy")
    return path, out.num_rows, os.path.getsize(path)


_OP_SUMMARY = {
    "append": "append",
    "create": "append",
    "cherrypick": "append",
    "merge": "overwrite",
    "update": "overwrite",
    "delete": "delete",
    "compact": "replace",
}


def write_iceberg_metadata(
    table, properties: dict | None = None, format_version: int | None = None
) -> str:
    """Emit Iceberg metadata for a SnapshotTable under `<root>/metadata/`,
    referencing the live parquet data files in place. EVERY representable
    snapshot in the table's history gets its own manifest list +
    manifest(s), so external engines can time-travel (`FOR VERSION AS
    OF`) exactly like `scan_at`. Returns the metadata.json path (the
    argument an external `iceberg_scan` takes).

    Format version: auto (None) emits v1 for delete-free histories (the
    widest reader compatibility) and v2 — sequence numbers + delete
    manifests — whenever the lineage carries merge-on-read delete files,
    so a MOR-state table is externally readable WITHOUT compact().
    Explicit `format_version=2` forces v2; `format_version=1` keeps the
    old behavior of refusing active deletes."""
    meta = table._load()
    from .partitioning import parse_spec
    from .tables import _dir_sid, _file_part

    head = table._head(meta)
    if head is None:
        raise ValueError("empty table: commit a snapshot before emitting metadata")
    renames = table._renames(meta)
    # Known limitation, stated plainly: the emitted name-mapping is
    # TABLE-level (the spec's schema.name-mapping.default), so a column
    # DROPPED and RE-ADDED under the same name cannot be distinguished
    # per file — an external reader would bind old files' dead column to
    # the new field id, where the engine's own scans (tables.py:_births)
    # correctly read NULL. Representing that externally needs per-file
    # field ids in the parquet metadata (a data rewrite), out of scope
    # for zero-copy emission; tables that reused a column name should
    # compact() before emitting.
    name_mapping: list[dict] | None = None
    if renames:
        # live files written before a rename carry the OLD column names;
        # Iceberg's answer for files without field ids is the
        # `schema.name-mapping.default` table property — every field
        # lists its historical names, and readers resolve either form.
        # Collected by walking the rename log backward from each current
        # name (a name can be renamed repeatedly).
        hist: dict[str, list[str]] = {
            f.name: [f.name] for f in table.schema().fields
        }
        for _sid, old, new in reversed(renames):
            for names in hist.values():
                if new in names and old not in names:
                    names.append(old)
    # emit the MAIN lineage only (ascending): staged-branch snapshots are
    # not part of the published history external engines should see
    snaps = list(reversed(table._lineage(meta, head["snapshot_id"])))
    # auto: v1 (widest reader compatibility) unless the CURRENT state
    # carries delete files; mid-history MOR snapshots are then simply
    # absent from the emitted v1 history, as before — force
    # format_version=2 to time-travel through them externally
    head_deletes = table._snapshot_deletes(meta, head)
    fv = format_version or (2 if head_deletes else 1)
    if fv == 1 and head_deletes:
        raise ValueError(
            "active merge-on-read deletes are not representable in "
            "Iceberg v1 metadata — emit format_version=2, or run compact() "
            "first to fold them into data files"
        )
    root = os.path.abspath(table.root)
    sid = head["snapshot_id"]
    ts_ms = int(float(head["made_current_at"]) * 1000)

    schema_json, ids = iceberg_schema(table.schema())
    if renames:
        name_mapping = [
            {"field-id": ids[n], "names": names} for n, names in hist.items()
        ]
    # Iceberg spec transform names + result types; every transform here is
    # semantically identical to Iceberg's, so declaring them is truthful
    # (day → date; hour/month/year → int offsets from 1970; truncate keeps
    # the source type; bucket → int via the spec's seed-0 murmur3 hash,
    # implemented in partitioning.murmur3_32 and pinned to the spec's
    # published vectors in tests).
    _TF_JSON = {"days": "day", "hours": "hour", "months": "month", "years": "year"}
    # Partition-spec evolution: each data dir was written under the spec
    # current AT ITS COMMIT (`SnapshotTable._spec_at`).
    # Every distinct spec gets its own spec-id and manifests; partition
    # field ids are allocated from ONE shared registry so a field reused
    # across specs keeps its id (the Iceberg assignment rule).
    fid_of: dict[tuple, int] = {}

    def build_spec(partition_by: list[str]) -> tuple[list, list]:
        sf_, pf_ = [], []
        for pf in parse_spec(partition_by):
            src_type = next(
                f["type"] for f in schema_json["fields"] if f["name"] == pf.source
            )
            if pf.transform == "identity":
                tname, rtype = "identity", src_type
            elif pf.transform == "truncate":
                tname, rtype = f"truncate[{pf.param}]", src_type
            elif pf.transform == "bucket":
                tname, rtype = f"bucket[{pf.param}]", "int"
            elif pf.transform == "days":
                tname, rtype = "day", "date"
            else:
                tname, rtype = _TF_JSON[pf.transform], "int"
            key = (pf.transform, pf.source, pf.param, pf.name)
            fid = fid_of.setdefault(key, 1000 + len(fid_of))
            sf_.append(
                {"name": pf.name, "transform": tname, "source-id": ids[pf.source], "field-id": fid}
            )
            pf_.append(
                {"name": pf.name, "type": rtype, "field-id": fid, "transform": pf.transform}
            )
        return sf_, pf_

    spec_ids: dict[tuple, int] = {}
    specs_built: dict[int, tuple[list, list]] = {}

    def spec_id_for(pby: tuple) -> int:
        if pby not in spec_ids:
            new_id = len(spec_ids)
            spec_ids[pby] = new_id
            specs_built[new_id] = build_spec(list(pby))
        return spec_ids[pby]

    cur_spec_id = spec_id_for(tuple(meta["partition_by"]))  # always 0
    spec_fields, part_fields = specs_built[cur_spec_id]
    spec_of_dir: dict[int, int] = {}  # data dir sid -> spec id

    def dir_spec_id(dsid: int) -> int:
        if dsid not in spec_of_dir:
            spec_of_dir[dsid] = spec_id_for(tuple(table._spec_at(meta, dsid)))
        return spec_of_dir[dsid]

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    # name → (field-id, iceberg type) for manifest bound serialization
    # (scalar columns only; arrays have no single-value bound encoding)
    col_meta = {
        f["name"]: (f["id"], f["type"])
        for f in schema_json["fields"]
        if isinstance(f["type"], str)
    }
    if renames:
        # bounds recorded under historical column names resolve to the
        # same field id — unless the old name now belongs to a DIFFERENT
        # current field (rename + re-add), which stays unmapped (a wrong
        # bound is worse than none)
        current = set(col_meta)
        for cur, names in hist.items():
            if cur not in col_meta:
                continue
            for n in names:
                if n not in current and n not in col_meta:
                    col_meta[n] = col_meta[cur]

    def bounds_maps(bounds: dict | None):
        """Recorded per-column [min,max] → Iceberg lower/upper bounds
        maps (field-id → serialized value), or (None, None)."""
        if not bounds:
            return None, None
        lo_out, hi_out = [], []
        for name in sorted(bounds):
            cm = col_meta.get(name)
            if cm is None:
                continue
            fid, ityp = cm
            lo, hi = bounds[name]
            lb, hb = _bound_bytes(lo, ityp), _bound_bytes(hi, ityp)
            if lb is None or hb is None:
                continue
            lo_out.append({"key": fid, "value": lb})
            hi_out.append({"key": fid, "value": hb})
        return (lo_out or None), (hi_out or None)

    snapshots_doc = []
    snapshot_log = []
    prev_emitted: int | None = None
    prev_state: dict[str, tuple[int, int, int]] = {}  # prior snapshot's live files
    for snap in snaps:
        s_id = snap["snapshot_id"]
        deletes = table._snapshot_deletes(meta, snap)
        if deletes and fv == 1:
            continue  # mid-history MOR state under v1: not representable
        s_ts = int(float(snap["made_current_at"]) * 1000)
        # one manifest per partition spec present in this snapshot's
        # state (Iceberg: a manifest holds files of a single spec)
        groups: dict[int, list[tuple[dict, int]]] = {}
        for rel, f in table._snapshot_files(meta, snap):
            # the owning dir's snapshot id: the file's sequence number in
            # v2, and the commit whose partition spec the file was written
            # under (its manifest)
            dsid = _dir_sid(rel)
            groups.setdefault(dir_spec_id(dsid), []).append((f, dsid))
        mrecs = []
        total_rows = 0
        n_entries = 0
        s_state: dict[str, tuple[int, int, int]] = {}  # path -> (rows, bytes, dsid)
        for g_idx, (g_spec_id, g_files) in enumerate(sorted(groups.items())):
            g_spec_fields, g_part_fields = specs_built[g_spec_id]
            g_cols = {p["name"] for p in g_part_fields}
            entries = []
            g_rows = 0
            min_seq = s_id
            for f, dsid in g_files:
                if set(f["partition"]) != g_cols:
                    raise ValueError(
                        f"data file {f['path']} partition keys "
                        f"{sorted(f['partition'])} do not match the spec "
                        f"current at its commit {dsid} ({sorted(g_cols)})"
                    )
                g_rows += f["rows"]
                s_state[f["path"]] = (f["rows"], f["bytes"], dsid)
                min_seq = min(min_seq, dsid)
                lbs, ubs = bounds_maps(f.get("bounds"))
                part = _file_part(f)
                nulls = f.get("nulls") or {}
                nvc = [
                    {"key": col_meta[n][0], "value": int(c)}
                    for n, c in sorted(nulls.items())
                    if n in col_meta
                ] or None
                # flat schema: every column holds record_count values
                # (nulls included), the Iceberg value_counts definition.
                # col_meta carries historical-name ALIASES mapping to the
                # same field id after a rename — dedupe to field ids so
                # the Avro map never emits duplicate keys (a strict
                # reader may reject them; a summing reader double-counts)
                vc = [
                    {"key": fid, "value": f["rows"]}
                    for fid in sorted({fid for fid, _t in col_meta.values()})
                ] or None
                data_file = {
                    "file_path": os.path.join(root, f["path"]),
                    "file_format": "PARQUET",
                    "partition": {
                        p["name"]: _partition_value(
                            part.get(p["name"]), p["type"],
                            p.get("transform", "identity"),
                        )
                        for p in g_part_fields
                    },
                    "record_count": f["rows"],
                    "file_size_in_bytes": f["bytes"],
                    "value_counts": vc,
                    "null_value_counts": nvc,
                    "lower_bounds": lbs,
                    "upper_bounds": ubs,
                    "split_offsets": [int(o) for o in f.get("split_offsets") or []] or None,
                }
                if fv == 1:
                    data_file["block_size_in_bytes"] = 67108864
                    # v1 keeps the original single-manifest shape: every live
                    # file ADDED under this snapshot's manifest
                    entries.append({"status": 1, "snapshot_id": s_id, "data_file": data_file})
                else:
                    data_file["content"] = 0
                    data_file["equality_ids"] = None
                    entries.append(
                        {
                            # ADDED for this snapshot's own files, EXISTING for
                            # carried-over ones; explicit per-file sequence
                            # numbers (= owning commit) drive delete application
                            "status": 1 if dsid == s_id else 0,
                            "snapshot_id": dsid,
                            "sequence_number": dsid,
                            "file_sequence_number": dsid,
                            "data_file": data_file,
                        }
                    )
            total_rows += g_rows
            n_entries += len(entries)
            manifest_path = os.path.join(
                meta_dir,
                f"{uuid.uuid5(uuid.NAMESPACE_URL, root + str(s_id) + 'sp' + str(g_spec_id))}"
                f"-m{g_idx}.avro",
            )
            mlen = write_avro_container(
                manifest_path,
                _manifest_entry_schema(g_part_fields, fv),
                entries,
                meta={
                    "schema": json.dumps(schema_json),
                    "schema-id": "0",
                    "partition-spec": json.dumps(g_spec_fields),
                    "partition-spec-id": str(g_spec_id),
                    "format-version": str(fv),
                    "content": "data",
                },
            )
            # manifest-list counts split by entry status (v1 entries are
            # all ADDED by construction; v2 carries EXISTING carry-overs
            # whose counts must not inflate the added_* stats external
            # planners trust for scan estimation)
            n_added = sum(1 for e in entries if e["status"] == 1)
            added_rows = sum(
                e["data_file"]["record_count"] for e in entries if e["status"] == 1
            )
            mrec = {
                "manifest_path": manifest_path,
                "manifest_length": mlen,
                "partition_spec_id": g_spec_id,
                "added_snapshot_id": s_id,
                "added_data_files_count": n_added,
                "existing_data_files_count": len(entries) - n_added,
                "deleted_data_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": g_rows - added_rows,
                "deleted_rows_count": 0,
            }
            if fv == 2:
                mrec.update(
                    {"content": 0, "sequence_number": s_id, "min_sequence_number": min_seq}
                )
            mrecs.append(mrec)
        n_del_files = 0
        if deletes:
            # global deletes live under an UNPARTITIONED spec (reuses an
            # existing empty spec when the table has one in its history)
            delete_spec_id = spec_id_for(())
            dentries = []
            dseqs = []
            for d, stats in deletes:
                d_sid = d["sid"]
                dseqs.append(d_sid)
                empty_part: dict = {}
                if d.get("style") == "position":
                    p_path, p_rows, p_bytes = _pos_delete_conforming(
                        root, meta_dir, d["file"]
                    )
                    dfiles = [(p_path, p_rows, p_bytes, 1, None)]
                else:
                    eq_ids = [ids[k] for k in d["keys"]]
                    dfiles = [
                        (os.path.join(root, st["path"]), st["rows"], st["bytes"], 2, eq_ids)
                        for st in stats
                    ]
                for path_, rows_, bytes_, content_, eq in dfiles:
                    dentries.append(
                        {
                            "status": 1 if d_sid == s_id else 0,
                            "snapshot_id": d_sid,
                            "sequence_number": d_sid,
                            "file_sequence_number": d_sid,
                            "data_file": {
                                "content": content_,
                                "file_path": path_,
                                "file_format": "PARQUET",
                                "partition": dict(empty_part),
                                "record_count": rows_,
                                "file_size_in_bytes": bytes_,
                                "equality_ids": eq,
                            },
                        }
                    )
            n_del_files = len(dentries)
            n_pos_deletes = sum(
                e["data_file"]["record_count"]
                for e in dentries
                if e["data_file"]["content"] == 1
            )
            n_eq_deletes = sum(
                e["data_file"]["record_count"]
                for e in dentries
                if e["data_file"]["content"] == 2
            )
            dmanifest_path = os.path.join(
                meta_dir, f"{uuid.uuid5(uuid.NAMESPACE_URL, root + 'd' + str(s_id))}-m1.avro"
            )
            dmlen = write_avro_container(
                dmanifest_path,
                _manifest_entry_schema([], fv),  # unpartitioned delete spec
                dentries,
                meta={
                    "schema": json.dumps(schema_json),
                    "schema-id": "0",
                    "partition-spec": "[]",
                    "partition-spec-id": str(delete_spec_id),
                    "format-version": str(fv),
                    "content": "deletes",
                },
            )
            mrecs.append(
                {
                    "manifest_path": dmanifest_path,
                    "manifest_length": dmlen,
                    "partition_spec_id": delete_spec_id,
                    "content": 1,
                    "sequence_number": max(dseqs),
                    "min_sequence_number": min(dseqs),
                    "added_snapshot_id": s_id,
                    "added_data_files_count": sum(
                        1 for e in dentries if e["status"] == 1
                    ),
                    "existing_data_files_count": sum(
                        1 for e in dentries if e["status"] == 0
                    ),
                    "deleted_data_files_count": 0,
                    "added_rows_count": sum(
                        e["data_file"]["record_count"]
                        for e in dentries
                        if e["status"] == 1
                    ),
                    "existing_rows_count": sum(
                        e["data_file"]["record_count"]
                        for e in dentries
                        if e["status"] == 0
                    ),
                    "deleted_rows_count": 0,
                }
            )
        mlist_path = os.path.join(
            meta_dir,
            f"snap-{s_id}-1-{uuid.uuid5(uuid.NAMESPACE_URL, root + 'l' + str(s_id))}.avro",
        )
        write_avro_container(
            mlist_path,
            _manifest_list_schema(fv),
            mrecs,
            meta={"format-version": str(fv), "snapshot-id": str(s_id)},
        )
        # Iceberg's standard snapshot summary counters (table-spec
        # "Snapshot Summary", all string-valued): added-* = files whose
        # owning commit IS this snapshot, deleted-* = files live in the
        # parent state but gone from this one (COW rewrites, overwrites,
        # expired partitions), total-* = this snapshot's full live state.
        # Ops tooling (and engines' scan planners) read these without
        # opening a single manifest.
        # Parent-relative, per the Iceberg spec: added-* counts files LIVE
        # here but absent from the parent state — not files whose owning
        # dir id happens to equal this snapshot id. The two agree for
        # plain appends and COW rewrites, but diverge for cherry-pick /
        # rollback-forward commits, where the incoming dirs stay owned by
        # the SOURCE snapshot id (tables.py cherry_pick_snapshot keeps
        # files=[]) yet are new relative to this snapshot's parent.
        added = {p: v for p, v in s_state.items() if p not in prev_state}
        removed = {p: v for p, v in prev_state.items() if p not in s_state}
        summary = {
            "operation": _OP_SUMMARY.get(snap.get("operation", "append"), "overwrite"),
            "added-data-files": str(len(added)),
            "added-records": str(sum(v[0] for v in added.values())),
            "added-files-size": str(sum(v[1] for v in added.values())),
            "total-data-files": str(n_entries),
            "total-records": str(total_rows),
            "total-files-size": str(sum(v[1] for v in s_state.values())),
        }
        if removed:
            summary["deleted-data-files"] = str(len(removed))
            summary["deleted-records"] = str(sum(v[0] for v in removed.values()))
            summary["removed-files-size"] = str(sum(v[1] for v in removed.values()))
        prev_state = s_state
        if n_del_files:
            summary["total-delete-files"] = str(n_del_files)
            # the spec's per-flavor delete-row counters: position deletes
            # (content=1) and equality deletes (content=2), the live MOR
            # state engines subtract from total-records for estimates
            summary["total-position-deletes"] = str(n_pos_deletes)
            summary["total-equality-deletes"] = str(n_eq_deletes)
        entry = {
            "snapshot-id": s_id,
            "timestamp-ms": s_ts,
            "summary": summary,
            "manifest-list": mlist_path,
            "schema-id": 0,
        }
        if fv == 2:
            entry["sequence-number"] = s_id
        if prev_emitted is not None:
            entry["parent-snapshot-id"] = prev_emitted
        snapshots_doc.append(entry)
        snapshot_log.append({"timestamp-ms": s_ts, "snapshot-id": s_id})
        prev_emitted = s_id

    doc = {
        "format-version": fv,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, root)),
        "location": root,
        "last-updated-ms": ts_ms,
        "last-column-id": max(ids.values()),
        "schema": schema_json,
        "schemas": [schema_json],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [
            {"spec-id": i, "fields": specs_built[i][0]}
            for i in sorted(specs_built)
        ],
        "default-spec-id": cur_spec_id,
        "last-partition-id": (999 + len(fid_of)) if fid_of else 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        # replaced below when the table declares a write order
        # (`WRITE ORDERED BY` -> write.sort-order property)
        "properties": {
            **meta.get("properties", {}),
            **(
                {"schema.name-mapping.default": json.dumps(name_mapping)}
                if name_mapping
                else {}
            ),
            **(properties or {}),
        },
        "current-snapshot-id": sid,
        "snapshots": snapshots_doc,
        "snapshot-log": snapshot_log,
        "metadata-log": [],
    }
    if fv == 2:
        doc["last-sequence-number"] = head["snapshot_id"]
    # declared write order (`ALTER TABLE ... WRITE ORDERED BY` stores the
    # write.sort-order property; the write path sorts within tasks on it):
    # emit the spec's sort-order JSON so external engines see the same
    # clustering contract — identity transform, asc, nulls-first (Spark's
    # sortWithinPartitions defaults, which the writer uses)
    sort_cols = [
        c.strip()
        for c in doc["properties"].get("write.sort-order", "").split(",")
        if c.strip()
    ]
    missing_sort = [c for c in sort_cols if c not in ids]
    if missing_sort:
        # a declared sort column absent from the current schema means the
        # write.sort-order property drifted (e.g. the column was dropped
        # without updating the property) — surface it instead of silently
        # emitting a narrower order than the table declares
        import warnings

        warnings.warn(
            f"write.sort-order names column(s) {missing_sort} not in the "
            "current schema; they are omitted from the emitted sort order",
            stacklevel=2,
        )
    sort_fields = [
        {
            "transform": "identity",
            "source-id": ids[c],
            "direction": "asc",
            "null-order": "nulls-first",
        }
        for c in sort_cols
        if c in ids
    ]
    if sort_fields:
        doc["sort-orders"] = [
            {"order-id": 0, "fields": []},
            {"order-id": 1, "fields": sort_fields},
        ]
        doc["default-sort-order-id"] = 1
    # statistics files: if ANALYZE ran on this table (stats.<col> props
    # with a retained kmv sketch), serialize the sketches into a Puffin
    # file and reference it from the spec's `statistics` field, pinned to
    # the current snapshot (ANALYZE reads the current snapshot)
    col_stats = {}
    for pk, pv in doc["properties"].items():
        if pk.startswith("stats.") and pk.count(".") == 1:
            try:
                s = json.loads(pv)
            except ValueError:
                continue
            col = pk[len("stats."):]
            if isinstance(s, dict) and s.get("kmv") is not None and col in ids:
                col_stats[col] = s
    if col_stats:
        doc["statistics"] = [
            write_puffin_stats(
                meta_dir, sid, sid if fv == 2 else 0, col_stats, ids
            )
        ]
    # version numbering like Iceberg's HadoopTableOperations: vN.metadata.json
    # + version-hint.text, so `sorted(...)[-1]` discovery (the reference's
    # read_iceberg_duckdb.py:35-37) finds the newest
    n = 1
    while os.path.exists(os.path.join(meta_dir, f"v{n}.metadata.json")):
        n += 1
    md_path = os.path.join(meta_dir, f"v{n}.metadata.json")
    if n > 1:
        # metadata-log: the prior metadata files, newest last (Iceberg's
        # re-point history; external readers use it for metadata rollback)
        prev = os.path.join(meta_dir, f"v{n - 1}.metadata.json")
        try:
            with open(prev) as f:
                prev_doc = json.load(f)
            doc["metadata-log"] = (prev_doc.get("metadata-log") or []) + [
                {
                    "timestamp-ms": prev_doc.get("last-updated-ms", ts_ms),
                    "metadata-file": prev,
                }
            ]
        except (OSError, ValueError):
            pass
    with open(md_path, "w") as f:
        json.dump(doc, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(n))
    return md_path


# ---------------------------------------------------------------------------
# Puffin statistics files (Iceberg `statistics` metadata field).
#
# The spec pair (public): the Puffin container format
# (iceberg.apache.org/puffin-spec/) — Magic "PFA1", concatenated blobs,
# footer = Magic + JSON FileMetadata payload + payload size (int32 LE) +
# flags (4 bytes) + Magic — and the `statistics` field of the table
# metadata (table-spec §table-statistics), whose blob-metadata entries
# carry the `ndv` property readers consume for CBO (this property, not the
# sketch bytes, is the cross-engine stats interchange surface: engines
# read blob metadata from the table metadata JSON without opening the
# file). The sketch blob itself is serialized in the DataSketches compact
# theta layout (serial v3: preamble longs / family 3 / ordered+compact+
# read-only flags / retained count / theta long / ascending uint64
# entries), with entries drawn from the engine's DETERMINISTIC md5-KMV
# family (`SnapshotTable.analyze`), scaled from 60-bit KMV space to the
# 63-bit theta domain (order- and estimator-preserving: theta/2^63 =
# kth/2^60, so estimate = (retained-1)/theta_fraction equals the KMV
# estimator). Caveat, stated plainly: the entry HASH FAMILY is md5-based,
# not DataSketches' murmur3-x64-128(seed 9001), and the blob's seed-hash
# field is stamped with this engine's own family tag (0x4B56) — stock
# DataSketches readers VALIDATE seed-hash on wrap/heapify, so
# deserializing the blob with a stock reader FAILS the seed check
# outright (by design: better a loud rejection than silently unioning
# incompatible hash families). The cross-engine stats interchange surface
# is therefore the blob-METADATA `ndv` property in the table metadata
# JSON — which is exactly what engines consume for CBO without opening
# the Puffin file — not the sketch bytes themselves. Only this engine's
# own `read_puffin_stats` re-derives estimates from the blob.

_PUFFIN_MAGIC = b"PFA1"
_THETA_SCALE = 8  # 60-bit KMV hash domain -> 63-bit theta domain
_EIWS_SEED_HASH = 0x4B56  # "KV": md5-KMV family tag (NOT murmur seed 9001's)


def _theta_sketch_bytes(kmv: list[int], k: int) -> bytes:
    """Compact ordered theta sketch, DataSketches serial version 3."""
    import struct

    if not kmv:
        # empty: 1 preamble long, EMPTY|READ_ONLY|COMPACT|ORDERED flags
        return struct.pack("<BBBBBBH", 1, 3, 3, 0, 0, 0x1E, _EIWS_SEED_HASH)
    entries = [h * _THETA_SCALE for h in kmv]
    estimation = len(kmv) >= k
    theta = entries[-1] if estimation else (1 << 63) - 1
    if estimation:
        entries = entries[:-1]  # the k-th value IS theta, not a sample
    flags = 0x1A  # READ_ONLY | COMPACT | ORDERED
    pre = struct.pack(
        "<BBBBBBHII", 3, 3, 3, 0, 0, flags, _EIWS_SEED_HASH, len(entries), 0
    )
    return pre + struct.pack("<q", theta) + b"".join(
        struct.pack("<Q", e) for e in entries
    )


def _theta_decode(data: bytes) -> dict:
    """Decode the compact theta layout back to
    {retained, theta, entries, estimate} (reader used by the stats query;
    the independent-decoder TEST re-implements this from the layout spec
    without importing it)."""
    import struct

    pre_longs, ser_ver, family = data[0], data[1], data[2]
    if (ser_ver, family) != (3, 3):
        raise ValueError(f"not a compact theta sketch: serVer={ser_ver} family={family}")
    if pre_longs == 1:
        return {"retained": 0, "theta": (1 << 63) - 1, "entries": [], "estimate": 0}
    (retained,) = struct.unpack_from("<I", data, 8)
    (theta,) = struct.unpack_from("<q", data, 16)
    entries = list(struct.unpack_from(f"<{retained}Q", data, 24))
    if theta >= (1 << 63) - 1:
        est = retained
    else:
        est = int(retained * (1 << 63) / theta)
    return {"retained": retained, "theta": theta, "entries": entries, "estimate": est}


def write_puffin_stats(
    meta_dir: str,
    snapshot_id: int,
    sequence_number: int,
    col_stats: dict[str, dict],
    field_ids: dict[str, int],
) -> dict:
    """Write `<meta_dir>/<snapshot>-stats.puffin` holding one theta blob
    per analyzed column and return the table-metadata `statistics` entry
    that references it. `col_stats` is `SnapshotTable.analyze()` output
    (needs the `kmv` list per column)."""
    import struct

    blobs_meta = []
    body = io.BytesIO()
    body.write(_PUFFIN_MAGIC)
    for col in sorted(col_stats):
        s = col_stats[col]
        sk = _theta_sketch_bytes(s.get("kmv") or [], s.get("k", 64))
        off = body.tell()
        body.write(sk)
        blobs_meta.append(
            {
                "type": "apache-datasketches-theta-v1",
                "fields": [field_ids[col]],
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": off,
                "length": len(sk),
                "properties": {"ndv": str(s["ndv_est"])},
            }
        )
    payload = json.dumps(
        {"blobs": blobs_meta, "properties": {"created-by": "eiws-spark"}},
        sort_keys=True,
    ).encode()
    body.write(_PUFFIN_MAGIC)
    body.write(payload)
    body.write(struct.pack("<i", len(payload)))
    body.write(struct.pack("<i", 0))  # flags: footer payload uncompressed
    body.write(_PUFFIN_MAGIC)
    path = os.path.join(meta_dir, f"{snapshot_id}-stats.puffin")
    data = body.getvalue()
    with open(path, "wb") as f:
        f.write(data)
    return {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(data),
        "file-footer-size-in-bytes": 4 + len(payload) + 4 + 4 + 4,
        "blob-metadata": [
            {k: v for k, v in b.items() if k not in ("offset", "length")}
            for b in blobs_meta
        ],
    }


def read_puffin_stats(path: str) -> dict:
    """Read a Puffin statistics file back: footer JSON + decoded theta
    blobs, keyed by field id."""
    import struct

    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != _PUFFIN_MAGIC or data[-4:] != _PUFFIN_MAGIC:
        raise ValueError("not a Puffin file (missing magic)")
    (flags,) = struct.unpack_from("<i", data, len(data) - 8)
    (psize,) = struct.unpack_from("<i", data, len(data) - 12)
    if flags & 1:
        raise ValueError("compressed footer payload not supported")
    payload = data[len(data) - 12 - psize : len(data) - 12]
    if data[len(data) - 16 - psize : len(data) - 12 - psize] != _PUFFIN_MAGIC:
        raise ValueError("corrupt footer (missing leading magic)")
    meta = json.loads(payload.decode())
    out = {}
    for b in meta.get("blobs", []):
        sk = _theta_decode(data[b["offset"] : b["offset"] + b["length"]])
        for fid in b["fields"]:
            out[fid] = {"blob": b, "sketch": sk}
    return {"file_metadata": meta, "by_field": out}


def external_ddl(metadata_json_path: str, table_name: str) -> dict[str, str]:
    """Per-engine SQL to attach the emitted Iceberg metadata — the
    reference ships these by hand for its silver table
    (`snowflake/demo.sql:28-51`, `starocks/mask.sql:5-17`,
    `read_iceberg_duckdb.py:61`); here they are generated from the
    table's own metadata. Returns {engine: sql}. Cloud-only knobs
    (IAM role ARNs, access keys, bucket URLs) are placeholders exactly
    as the reference leaves them ('XXX') — they cannot be derived from
    a local warehouse."""
    md = metadata_json_path
    rel_md = os.path.join("metadata", os.path.basename(md))
    duck = (
        "INSTALL iceberg;\nLOAD iceberg;\n"
        f"SELECT * FROM iceberg_scan('{md}');\n"
        f"SELECT COUNT(*) FROM iceberg_scan('{md}');\n"
    )
    snow = (
        "-- External volume over the warehouse location (see\n"
        "-- snowflake/demo.sql steps 3-4 for the IAM trust handshake)\n"
        "CREATE OR REPLACE EXTERNAL VOLUME ext_vol\n"
        "STORAGE_LOCATIONS = (\n"
        "    (\n"
        "        NAME = 'warehouse',\n"
        "        STORAGE_PROVIDER = 'S3',\n"
        "        STORAGE_BASE_URL = 's3://XXX/warehouse/',\n"
        "        STORAGE_AWS_ROLE_ARN = 'arn:aws:iam::XXX:role/snowflake_role',\n"
        "        STORAGE_AWS_EXTERNAL_ID = 'ext_vol'\n"
        "    )\n"
        ");\n\n"
        "-- No Glue here: the table is filesystem-cataloged, so attach the\n"
        "-- metadata file directly through an OBJECT_STORE integration\n"
        "CREATE OR REPLACE CATALOG INTEGRATION obj_store_integ\n"
        "  CATALOG_SOURCE = OBJECT_STORE\n"
        "  TABLE_FORMAT = ICEBERG\n"
        "  ENABLED = TRUE;\n\n"
        f"CREATE OR REPLACE ICEBERG TABLE {table_name}\n"
        "  EXTERNAL_VOLUME = 'ext_vol'\n"
        "  CATALOG = 'obj_store_integ'\n"
        f"  METADATA_FILE_PATH = '{rel_md}';\n\n"
        f"SELECT * FROM {table_name};\n"
    )
    star = (
        "-- External catalog (starocks/mask.sql shape; fill the XX\n"
        "-- credentials for a cloud warehouse, or serve the warehouse dir\n"
        "-- through a REST catalog for local use)\n"
        "CREATE EXTERNAL CATALOG iceberg_catalog\n"
        "PROPERTIES (\n"
        '    "type" = "iceberg",\n'
        '    "iceberg.catalog.type" = "rest",\n'
        '    "iceberg.catalog.uri" = "http://XXX:8181",\n'
        '    "iceberg.catalog.warehouse" = "s3://XXX/warehouse/"\n'
        ");\n\n"
        f"SHOW TABLES IN iceberg_catalog.db;\n"
        f"SELECT * FROM iceberg_catalog.db.{table_name};\n"
        f"SELECT COUNT(*) FROM iceberg_catalog.db.{table_name};\n"
    )
    return {"duckdb": duck, "snowflake": snow, "starrocks": star}


def read_data_files(metadata_json_path: str, snapshot_id: int | None = None) -> list[dict]:
    """Walk the emitted metadata the way an external reader does:
    metadata.json → snapshot's manifest list → manifests → data file
    entries (default: the current snapshot; pass `snapshot_id` for time
    travel, the `FOR VERSION AS OF` path). Returns the data_file dicts
    (absolute paths); delete manifests (v2) are skipped — use
    `read_table_chain` for the full data+delete state. Tests use this to
    prove the chain is self-describing; it is also the file-listing a
    query engine without an Iceberg runtime can drive a parquet scan
    with."""
    chain = read_table_chain(metadata_json_path, snapshot_id)
    return [e["data_file"] for e in chain["data"]]


def read_table_chain(
    metadata_json_path: str, snapshot_id: int | None = None
) -> dict:
    """Full spec-walk of the emitted chain for one snapshot: metadata.json
    → manifest list (data + delete manifests) → manifest entries. Returns
    `{"format_version": fv, "schema": {...}, "data": [...], "deletes":
    [...]}` where each entry dict carries `data_file`, `status`,
    `sequence_number` (0 under v1), and for delete entries the content
    code (1 = position, 2 = equality) plus `equality_ids`. Applying the
    deletes per the spec — equality deletes hit data files with STRICTLY
    smaller sequence numbers, positional deletes bind by (file_path, pos)
    — reconstructs exactly the table state `scan()` serves; the
    q_meta_iceberg_v2 query does that reconstruction under the driver's
    DuckDB oracle."""
    with open(metadata_json_path) as f:
        doc = json.load(f)
    want = snapshot_id if snapshot_id is not None else doc["current-snapshot-id"]
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == want)
    _, _, manifests = read_avro_container(snap["manifest-list"])
    data: list[dict] = []
    deletes: list[dict] = []
    for m in manifests:
        _, _, entries = read_avro_container(m["manifest_path"])
        is_delete = m.get("content", 0) == 1
        for e in entries:
            if e["status"] == 2:  # DELETED entry: not live
                continue
            rec = {
                "data_file": e["data_file"],
                "status": e["status"],
                "sequence_number": e.get("sequence_number") or m.get("sequence_number", 0),
            }
            if is_delete:
                rec["content"] = e["data_file"].get("content")
                rec["equality_ids"] = e["data_file"].get("equality_ids")
                deletes.append(rec)
            else:
                data.append(rec)
    return {
        "format_version": doc["format-version"],
        "schema": doc["schema"],
        "data": data,
        "deletes": deletes,
    }


def discover_latest_metadata(root: str) -> str:
    """Latest-metadata discovery, the way the reference's external reader
    does it (`read_iceberg_duckdb.py:22-44`): list `<root>/metadata/`,
    keep `*.metadata.json`, take `sorted(...)[-1]`. The reference's
    Glue-written tables name versions `%05d-<uuid>.metadata.json`, where
    plain lexicographic order IS version order; this engine emits
    Hadoop-style `vN.metadata.json`, where it is only up to v9 — so the
    sort key zero-pads the numeric version (the same rule, normalized for
    the naming scheme). Cross-checked against `version-hint.text`
    (HadoopTableOperations' own discovery) when present: a disagreement
    means a torn emission and raises instead of guessing."""
    meta_dir = os.path.join(root, "metadata")
    names = [n for n in os.listdir(meta_dir) if n.endswith(".metadata.json")]
    if not names:
        raise FileNotFoundError(f"no *.metadata.json under {meta_dir}")

    def vkey(n: str):
        m = re.match(r"v(\d+)\.metadata\.json$", n)
        return (int(m.group(1)), n) if m else (-1, n)

    latest = sorted(names, key=vkey)[-1]
    hint_path = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint_path):
        with open(hint_path) as f:
            hint = f.read().strip()
        hinted = f"v{hint}.metadata.json"
        # The listing is authoritative (HadoopTableOperations' rule). A
        # hint OLDER than the listed latest is the normal mid-commit
        # window — the writer creates vN.metadata.json first and updates
        # the hint after — never an error. A hint NEWER than anything
        # listed means the hinted version file VANISHED after the hint
        # advanced (a hand-deleted or torn emission): raise rather than
        # silently serve a version the table already moved past.
        if vkey(hinted) > vkey(latest):
            raise ValueError(
                f"metadata discovery disagreement: version-hint.text says "
                f"{hinted!r} but the newest listed file is {latest!r} — "
                "the hinted version file is missing"
            )
    return os.path.join(meta_dir, latest)


def metadata_log_entries(metadata_json_path: str) -> list[dict]:
    """Iceberg's `.metadata_log_entries` metadata table, derived from the
    emitted chain: one row per metadata version — every `metadata-log`
    entry of the given (usually latest) metadata.json, plus that file
    itself. `latest_snapshot_id` / `latest_schema_id` /
    `latest_sequence_number` are read from EACH version file (equivalent
    to Iceberg's snapshot-log correlation, and checkable independently by
    any reader that opens the version files). Returns dicts with keys
    file (basename), timestamp_ms, latest_snapshot_id, latest_schema_id,
    latest_sequence_number (None under v1 docs, like Iceberg's NULL)."""
    rows: list[dict] = []
    with open(metadata_json_path) as f:
        doc = json.load(f)
    chain = [
        (e["metadata-file"], e.get("timestamp-ms"))
        for e in doc.get("metadata-log", [])
    ]
    chain.append((metadata_json_path, doc.get("last-updated-ms")))
    meta_dir = os.path.dirname(os.path.abspath(metadata_json_path))
    for path, log_ts in chain:
        if not os.path.exists(path):
            # metadata-log entries store the paths current AT WRITE TIME;
            # a relocated table (moved warehouse, different checkout) still
            # has the version files side-by-side in metadata/ — resolve by
            # basename next to the file being read, like Iceberg readers
            # resolving relative to the table location
            local = os.path.join(meta_dir, os.path.basename(path))
            if os.path.exists(local):
                path = local
        if not os.path.exists(path):
            # historical version files may be legitimately gone (cleaned
            # up under write.metadata.delete-after-commit.enabled, or a
            # partial copy). Iceberg's .metadata_log_entries tolerates
            # this — emit the recorded name with NULL latest_* columns
            # instead of failing the whole metadata-table query.
            rows.append(
                {
                    "file": os.path.basename(path),
                    # the log entry's own timestamp survives the cleanup
                    "timestamp_ms": log_ts,
                    "latest_snapshot_id": None,
                    "latest_schema_id": None,
                    "latest_sequence_number": None,
                }
            )
            continue
        with open(path) as f:
            d = json.load(f)
        rows.append(
            {
                "file": os.path.basename(path),
                "timestamp_ms": d.get("last-updated-ms"),
                "latest_snapshot_id": d.get("current-snapshot-id"),
                "latest_schema_id": d.get("current-schema-id"),
                "latest_sequence_number": d.get("last-sequence-number"),
            }
        )
    return rows
