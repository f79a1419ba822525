"""SQL façade over `SnapshotTable`: run the reference's literal SQL.

The reference drives every table operation through `spark.sql` strings
against Iceberg's Spark extensions — `MERGE INTO` upserts
(`bronze-silver.py:250-285`), `SELECT * FROM <t>.history`
(`bronze-silver.py:116`), and the Iceberg docs' `DELETE FROM` / `UPDATE`
/ `CALL system.*` procedures its table properties configure
(`raw-bronze.py:159-170`). Without the Iceberg runtime jar those
statements don't parse in vanilla Spark, so this module provides
`SqlCatalog.sql(text)`: a RESTRICTED, documented grammar that recognizes
the Iceberg-extension statements, maps them onto the `SnapshotTable`
API, and hands everything else (the actual SELECT bodies, subqueries,
temp views) to real `spark.sql` — Catalyst still plans all reads.

Supported grammar (case-insensitive keywords; one statement per call):

- ``CREATE TABLE [IF NOT EXISTS] <name> (<col type>, ...) [USING iceberg]
  [PARTITIONED BY (<spec>, ...)] [TBLPROPERTIES ('k'='v', ...)]``
  — partition specs take hidden-partitioning transforms (`days(ts)`,
  `bucket(8, id)`, `truncate(4, s)`) like Iceberg DDL.
- ``CREATE TABLE <name> [USING iceberg] [PARTITIONED BY (...)]
  [TBLPROPERTIES (...)] AS <SELECT ...>`` (CTAS — schema from the SELECT)
- ``INSERT INTO <name> <SELECT ...>`` / ``INSERT INTO <name> VALUES ...``
  / ``INSERT OVERWRITE [TABLE] <name> ...`` (snapshot-isolated overwrite;
  with table property ``write.overwrite-mode=dynamic`` it replaces only
  the partitions present in the inserted rows — Iceberg/Spark
  ``partitionOverwriteMode=dynamic``)
- ``DESCRIBE [TABLE] <name>`` / ``SHOW TBLPROPERTIES <name>`` /
  ``SHOW TABLES`` / ``SHOW CREATE TABLE <name>`` (regenerates the
  Iceberg DDL — columns, partition spec, properties — and the output
  re-runs through this façade) / ``DROP TABLE [IF EXISTS] <name>
  [PURGE]`` (plain DROP forgets the catalog entry; PURGE also deletes
  the files, like Iceberg)
- ``DELETE FROM <name> WHERE <pred>``
- ``UPDATE <name> SET c = expr[, ...] [WHERE <pred>]``
- ``MERGE INTO <name> [AS] t USING (<subquery>)|<view> [AS] s
  ON t.k = s.k [AND ...]
  [WHEN MATCHED AND s.<op> = '<v>' THEN DELETE]
  WHEN MATCHED THEN UPDATE SET * | SET t.c = <expr>, ...
  WHEN NOT MATCHED THEN INSERT * | INSERT (...) VALUES (s...)``
  — the reference's statement shape verbatim, plus COMPUTED and
  PARTIAL assignments beyond it: `SET t.qty = s.qty + t.qty` resolves
  the expression against both aliases, and columns missing from a
  partial SET keep the target value (ANSI MERGE). Identity `SET *` /
  full `t.c = s.c` lists run the reference's whole-row path.
- ``SELECT ...`` over registered tables, with
  ``<name> [FOR] VERSION AS OF <sid|'tag'>``,
  ``<name> [FOR] TIMESTAMP AS OF '<ts>'``, and metadata suffixes
  ``<name>.history|.snapshots|.files|.partitions|.refs|.manifests|.entries|.position_deletes|.metadata_log_entries|.changes`` —
  each reference is materialized as a temp view and the rewritten text
  runs through `spark.sql`.
- ``CALL [catalog.]system.rewrite_data_files('<name>')`` /
  ``expire_snapshots('<name>'[, <retain_last>]
  [, older_than => TIMESTAMP '<ts>' | <epoch-seconds>])`` /
  ``remove_orphan_files('<name>')`` /
  ``rollback_to_snapshot('<name>', <sid>)`` /
  ``add_files('<name>', source_table => '`parquet`.`<dir>`')`` (register
  existing parquet in place, zero rewrite) /
  ``cherrypick_snapshot('<name>', <sid>)`` /
  ``fast_forward('<table>', '<branch>', '<to>')`` (Iceberg CALL shape:
  move ref `branch` forward to `to`'s head; both args required) /
  ``vacuum('<name>'[, <retain_last>[, <max_files_per_partition>]])``
  (maintain → expire → orphan sweep in one call) /
  ``dedup_batch('<store>', source => '<view>'
  [, algo => 'minhash'|'exact'|'verdicts'|'clusters']
  [, append => true][, labels => '<label store>'])``
  (extension: incremental dedup of a batch against a persisted signature
  store; 'verdicts' is the bounded one-row-per-batch-doc MinHash form;
  'clusters' folds the batch into persisted component labels — requires
  ``labels``; returns the verdict/label DataFrame; append defaults to
  FALSE here — read-only unless asked — unlike the library functions'
  append=True) /
  ``retract_batch('<store>', source => '<view>'[, key => 'doc_id']
  [, labels => '<label store>'])``
  (extension: CDC retraction — equality-deletes the source's key values
  from the store and returns the delete snapshot id; with ``labels``,
  runs the CLUSTER-tier retraction instead: affected components
  re-labeled from re-derived signature edges, ids deleted from both
  stores — doc_id-keyed, mutually exclusive with ``key``) /
  ``apply_cdc_clusters('<store>', source => '<view>',
  labels => '<label store>')``
  (extension, r15: the I/U/D apply for the cluster tier — one
  signature commit + one label MERGE per batch via
  `apply_cdc_batch_clusters`; returns the post-apply label state) —
  named (``arg => v``) or positional.
- ``ALTER TABLE <name> RENAME TO <new>`` (catalog re-key, data in place)
  / ``ADD COLUMN[S] (c type, ...)`` / ``DROP COLUMN c``
  / ``ADD PARTITION FIELD <spec>`` / ``DROP PARTITION FIELD <spec>`` /
  ``CREATE TAG <tag> [AS OF VERSION <sid>]`` /
  ``CREATE BRANCH <branch> [AS OF VERSION <sid>]`` /
  ``SET TBLPROPERTIES ('k'='v', ...)`` /
  ``WRITE [DISTRIBUTED BY PARTITION] [LOCALLY] ORDERED BY c1[, ...]``
  (the Iceberg write-order DDL → `write.sort-order` +
  `write.distribution-mode` properties, applied to future writes).

DML returns the new snapshot id (int); SELECT returns a DataFrame.
Anything unrecognized raises ValueError with the offending statement —
never a silent wrong answer.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import SnapshotTable

_META_TABLES = ("history", "snapshots", "files", "partitions", "refs", "manifests", "entries", "position_deletes", "metadata_log_entries", "changes")


def _ws(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _quoted_spans(s: str) -> list[tuple[int, int]]:
    """[start, end) spans of quoted regions ('...' and "...") — the same
    single-character quote scanning `_split_top` uses. Read rewriting must
    never substitute a table name INSIDE one of these (e.g. the literal in
    `WHERE src = 'orders'`)."""
    spans: list[tuple[int, int]] = []
    q: str | None = None
    start = 0
    for i, ch in enumerate(s):
        if q:
            if ch == q:
                spans.append((start, i + 1))
                q = None
        elif ch in "'\"":
            q, start = ch, i
    if q:
        spans.append((start, len(s)))
    return spans


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren/quote depth 0."""
    out, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


class SqlCatalog:
    """Name → `SnapshotTable` registry + the restricted-SQL dispatcher.

    `warehouse` is where `CREATE TABLE` puts new table roots
    (`<warehouse>/<name with dots as dirs>`); pre-existing tables attach
    with `register(name, root)`.

    Registrations are PERSISTENT when the catalog has a warehouse: the
    name→root map lives in `<warehouse>/_catalog.json` (atomic tmp +
    rename per update), so a new session's `SqlCatalog(spark, warehouse)`
    sees every table the last one created — the durable-catalog behavior
    the reference gets from Glue (`raw-bronze.py:104-107`). A catalog
    without a warehouse is session-local, as before."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self._tables: dict[str, str] = {}  # lower-name -> root
        self._viewn = 0
        if warehouse is not None:
            try:
                with open(os.path.join(warehouse, "_catalog.json")) as f:
                    import json as _json

                    saved = _json.load(f)
                self._tables.update(
                    {k: v for k, v in saved.items() if os.path.isdir(v)}
                )
            except (OSError, ValueError):
                pass

    def _persist(self, updates: dict[str, str | None]) -> None:
        """Apply a registration DELTA (name → root; None = deregister) to
        `_catalog.json` as read-merge-write under a commit lock — NOT a
        whole-map overwrite, so two sessions on the same warehouse never
        last-write-wins away each other's registrations (the same
        optimistic-concurrency contract the table layer enforces). The
        in-memory view also refreshes from disk, picking up peers'
        tables."""
        if self.warehouse is None:
            return
        import json as _json
        import time as _time
        import uuid as _uuid

        os.makedirs(self.warehouse, exist_ok=True)
        path = os.path.join(self.warehouse, "_catalog.json")
        lock = f"{path}.lock"
        deadline = _time.time() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if _time.time() - os.path.getmtime(lock) > 60.0:
                        # atomic-rename stale break (one breaker wins)
                        os.rename(lock, f"{lock}.broken-{_uuid.uuid4().hex}")
                        continue
                except OSError:
                    continue
                if _time.time() > deadline:
                    raise TimeoutError(f"catalog lock {lock} held too long")
                _time.sleep(0.01)
        try:
            try:
                with open(path) as f:
                    on_disk: dict = _json.load(f)
            except (OSError, ValueError):
                on_disk = {}
            for k, v in updates.items():
                if v is None:
                    on_disk.pop(k, None)
                else:
                    on_disk[k] = v
            tmp = f"{path}.tmp.{_uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                _json.dump(on_disk, f, indent=1)
            os.replace(tmp, path)
            # refresh the in-memory view with peers' registrations
            self._tables = {k: v for k, v in on_disk.items() if os.path.isdir(v)}
            self._tables.update(
                {k: v for k, v in updates.items() if v is not None}
            )
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    def register(self, name: str, root: str) -> None:
        self._tables[name.lower()] = root
        self._persist({name.lower(): root})

    def _refresh(self) -> None:
        """Re-read peers' registrations from `_catalog.json` (durable-
        catalog visibility: a name another session registered resolves
        here without restarting)."""
        if self.warehouse is None:
            return
        import json as _json

        try:
            with open(os.path.join(self.warehouse, "_catalog.json")) as f:
                saved = _json.load(f)
        except (OSError, ValueError):
            return
        for k, v in saved.items():
            if k not in self._tables and os.path.isdir(v):
                self._tables[k] = v

    def _lookup(self, name: str) -> str | None:
        root = self._tables.get(name.lower())
        if root is None:
            self._refresh()  # maybe a peer session registered it
            root = self._tables.get(name.lower())
        return root

    def table(self, name: str) -> SnapshotTable:
        root = self._lookup(name)
        if root is None:
            raise ValueError(f"unknown table {name!r} (register() it first)")
        return SnapshotTable(self.spark, root)

    # -- dispatcher --------------------------------------------------------
    def sql(self, text: str):
        stmt = _ws(text)
        head = stmt.split(None, 2)[0].upper() if stmt else ""
        if head == "CREATE" and re.match(r"CREATE\s+TABLE", stmt, re.I):
            return self._create_table(stmt)
        if head == "DROP":
            return self._drop_table(stmt)
        if head == "INSERT":
            return self._insert(stmt)
        if head == "DELETE":
            return self._delete(stmt)
        if head == "UPDATE":
            return self._update(stmt)
        if head == "MERGE":
            return self._merge(stmt)
        if head == "CALL":
            return self._call(stmt)
        if head == "ALTER":
            return self._alter(stmt)
        if head == "ANALYZE":
            return self._analyze(stmt)
        if head == "DESCRIBE":
            return self._describe(stmt)
        if head == "SHOW":
            return self._show(stmt)
        if head in ("SELECT", "WITH"):
            return self.spark.sql(self._rewrite_reads(stmt))
        raise ValueError(f"unsupported statement: {stmt[:80]!r}")

    def _analyze(self, stmt: str):
        """`ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b]` —
        Spark's ANALYZE statement shape routed to the KMV stats service
        (tables.py:analyze); stats land in versioned table properties."""
        m = re.match(
            r"ANALYZE\s+TABLE\s+(?P<name>[\w.]+)\s+COMPUTE\s+STATISTICS"
            r"(?:\s+FOR\s+COLUMNS\s+(?P<cols>[\w,\s]+))?$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported ANALYZE: {stmt[:120]!r}")
        cols = None
        if m.group("cols"):
            cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
        return self.table(m.group("name")).analyze(columns=cols)

    def _describe(self, stmt: str):
        m = re.match(r"DESCRIBE\s+(?:TABLE\s+)?(?P<name>[\w.]+)$", stmt, re.I)
        if not m:
            raise ValueError(f"unsupported DESCRIBE: {stmt[:120]!r}")
        t = self.table(m.group("name"))
        rows = [(f.name, f.dataType.simpleString(), "") for f in t.schema().fields]
        spec = t._load().get("partition_by") or []
        if spec:
            rows.append(("# Partition Information", "", ""))
            rows += [(s, "", "") for s in spec]
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    def _show(self, stmt: str):
        if re.match(r"SHOW\s+TABLES$", stmt, re.I):
            rows = sorted((n, r) for n, r in self._tables.items())
            return self.spark.createDataFrame(
                rows or [], "table_name string, root string"
            )
        m = re.match(r"SHOW\s+CREATE\s+TABLE\s+(?P<name>[\w.]+)$", stmt, re.I)
        if m:
            name = m.group("name")
            t = self.table(name)
            cols = ",\n".join(
                f"    {f.name} {f.dataType.simpleString().upper()}"
                + ("" if f.nullable else " NOT NULL")
                for f in t.schema().fields
            )
            ddl = f"CREATE TABLE {name} (\n{cols}\n) USING iceberg"
            spec = t._load().get("partition_by") or []
            if spec:
                ddl += f"\nPARTITIONED BY ({', '.join(spec)})"
            props = t.properties()
            if props:
                kv = ",\n".join(
                    f"    '{k}' = '{v}'" for k, v in sorted(props.items())
                )
                ddl += f"\nTBLPROPERTIES (\n{kv}\n)"
            return self.spark.createDataFrame([(ddl,)], "createtab_stmt string")
        m = re.match(r"SHOW\s+TBLPROPERTIES\s+(?P<name>[\w.]+)$", stmt, re.I)
        if not m:
            raise ValueError(f"unsupported SHOW: {stmt[:120]!r}")
        props = sorted(self.table(m.group("name")).properties().items())
        return self.spark.createDataFrame(props or [], "key string, value string")

    def _drop_table(self, stmt: str):
        m = re.match(
            r"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.]+)"
            r"(?:\s+(?P<purge>PURGE))?$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported DROP: {stmt[:120]!r}")
        name = m.group("name").lower()
        root = self._lookup(name)
        if root is None:
            if re.search(r"IF\s+EXISTS", stmt, re.I):
                return None
            raise ValueError(f"unknown table {name!r} (register() it first)")
        del self._tables[name]
        self._persist({name: None})
        if m.group("purge"):
            # Iceberg DROP TABLE PURGE: delete data + metadata; a plain
            # DROP only forgets the catalog entry (files stay on disk)
            import shutil

            shutil.rmtree(root, ignore_errors=True)
        return None

    # -- DDL ---------------------------------------------------------------
    def _create_table(self, stmt: str):
        ctas = re.match(
            r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s*"
            r"(?:USING\s+\w+\s*)?"
            r"(?:PARTITIONED\s+BY\s*\((?P<part>.*?)\)\s*)?"
            r"(?:TBLPROPERTIES\s*\((?P<props>.*?)\)\s*)?"
            r"AS\s+(?P<select>(?:SELECT|WITH)\s.+)$",
            stmt,
            re.I,
        )
        if ctas:
            return self._create_table_as(ctas)
        m = re.match(
            r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s*"
            r"\((?P<cols>.*?)\)\s*(?:USING\s+\w+\s*)?"
            r"(?:PARTITIONED\s+BY\s*\((?P<part>.*?)\)\s*)?"
            r"(?:TBLPROPERTIES\s*\((?P<props>.*?)\)\s*)?$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported CREATE TABLE: {stmt[:120]!r}")
        name = m.group("name")
        if name.lower() in self._tables:
            if re.search(r"IF\s+NOT\s+EXISTS", stmt, re.I):
                return None
            raise ValueError(f"table {name!r} already exists")
        if self.warehouse is None:
            raise ValueError("CREATE TABLE needs a catalog warehouse dir")
        root = os.path.join(self.warehouse, *name.split("."))
        props = {}
        for kv in _split_top(m.group("props") or ""):
            km = re.match(r"'([^']+)'\s*=\s*'([^']*)'", kv.strip())
            if not km:
                raise ValueError(f"unsupported TBLPROPERTIES entry: {kv!r}")
            props[km.group(1)] = km.group(2)
        SnapshotTable.create(
            self.spark,
            root,
            m.group("cols"),
            partition_by=_split_top(m.group("part") or "") or None,
            properties=props or None,
        )
        self.register(name, root)
        return None

    def _create_table_as(self, m: re.Match):
        """CTAS (Iceberg `CREATE TABLE ... AS SELECT`): schema derived
        from the SELECT, then created + loaded as one logical statement
        (create commit then append commit in this layout)."""
        name = m.group("name")
        if name.lower() in self._tables:
            raise ValueError(f"table {name!r} already exists")
        if self.warehouse is None:
            raise ValueError("CREATE TABLE needs a catalog warehouse dir")
        df = self.spark.sql(self._rewrite_reads(m.group("select")))
        props = {}
        for kv in _split_top(m.group("props") or ""):
            km = re.match(r"'([^']+)'\s*=\s*'([^']*)'", kv.strip())
            if not km:
                raise ValueError(f"unsupported TBLPROPERTIES entry: {kv!r}")
            props[km.group(1)] = km.group(2)
        root = os.path.join(self.warehouse, *name.split("."))
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        t = SnapshotTable.create(
            self.spark,
            root,
            ddl,
            partition_by=_split_top(m.group("part") or "") or None,
            properties=props or None,
        )
        self.register(name, root)
        return t.write(df, mode="append")

    def _alter(self, stmt: str):
        m = re.match(r"ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+(?P<rest>.*)$", stmt, re.I)
        if not m:
            raise ValueError(f"unsupported ALTER TABLE: {stmt[:120]!r}")
        t, rest = self.table(m.group("name")), m.group("rest").strip()
        tm = re.match(r"RENAME\s+TO\s+(?P<new>[\w.]+)$", rest, re.I)
        if tm:
            # catalog-level table rename (Iceberg `ALTER TABLE ... RENAME
            # TO`): re-key the registry; the root and data never move
            old_name, new_name = m.group("name").lower(), tm.group("new").lower()
            if new_name in self._tables:
                raise ValueError(f"table {new_name!r} already exists")
            self._tables[new_name] = self._tables.pop(old_name)
            self._persist({old_name: None, new_name: self._tables[new_name]})
            return None
        am = re.match(r"ADD\s+COLUMNS?\s*\((?P<cols>.*)\)$", rest, re.I) or re.match(
            r"ADD\s+COLUMNS?\s+(?P<cols>.+)$", rest, re.I
        )
        if am:
            add = {}
            for c in _split_top(am.group("cols")):
                cn, _, ct = c.strip().partition(" ")
                add[cn] = ct.strip()
            return t.evolve_schema(add=add)
        dm = re.match(r"DROP\s+COLUMNS?\s+(?P<col>[\w,\s]+)$", rest, re.I)
        if dm:
            return t.evolve_schema(drop=[c.strip() for c in dm.group("col").split(",")])
        pm = re.match(r"ADD\s+PARTITION\s+FIELD\s+(?P<spec>.+)$", rest, re.I)
        if pm:
            return t.evolve_partition_spec(
                t._load()["partition_by"] + [pm.group("spec").strip()]
            )
        pm = re.match(r"DROP\s+PARTITION\s+FIELD\s+(?P<spec>.+)$", rest, re.I)
        if pm:
            spec = pm.group("spec").strip()
            cur = t._load()["partition_by"]
            if spec not in cur:
                raise ValueError(f"not a partition field: {spec!r}")
            return t.evolve_partition_spec([s for s in cur if s != spec])
        rm = re.match(
            r"RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)$", rest, re.I
        )
        if rm:
            return t.rename_column(rm.group("old"), rm.group("new"))
        tm = re.match(
            r"CREATE\s+(?P<kind>TAG|BRANCH)\s+(?P<ref>\w+)"
            r"(?:\s+AS\s+OF\s+VERSION\s+(?P<sid>\d+))?$",
            rest,
            re.I,
        )
        if tm:
            sid = int(tm.group("sid")) if tm.group("sid") else None
            if tm.group("kind").upper() == "TAG":
                return t.create_tag(tm.group("ref"), sid)
            return t.create_branch(tm.group("ref"), sid)
        sm = re.match(r"SET\s+TBLPROPERTIES\s*\((?P<kv>.*)\)$", rest, re.I)
        if sm:
            props = {}
            for pair in _split_top(sm.group("kv")):
                k, _, v = pair.partition("=")
                props[k.strip().strip("'\"")] = v.strip().strip("'\"")
            return t.set_properties(props)
        # Iceberg Spark-extension write-order DDL: ALTER TABLE t WRITE
        # [DISTRIBUTED BY PARTITION] [LOCALLY] ORDERED BY c1, c2
        wm = re.match(
            r"WRITE\s+(?:(?P<dist>DISTRIBUTED\s+BY\s+PARTITION)\s+)?"
            r"(?:LOCALLY\s+)?ORDERED\s+BY\s+\(?(?P<cols>[\w,\s]+?)\)?$",
            rest,
            re.I,
        )
        if wm:
            props = {
                "write.sort-order": ",".join(
                    c.strip() for c in wm.group("cols").split(",")
                )
            }
            if wm.group("dist"):
                props["write.distribution-mode"] = "hash"
            return t.set_properties(props)
        raise ValueError(f"unsupported ALTER TABLE action: {rest[:80]!r}")

    # -- DML ---------------------------------------------------------------
    def _insert(self, stmt: str):
        m = re.match(
            r"INSERT\s+(?P<mode>INTO|OVERWRITE)(?:\s+TABLE)?\s+"
            r"(?P<name>[\w.]+)\s+(?P<rest>.+)$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported INSERT: {stmt[:120]!r}")
        t = self.table(m.group("name"))
        rest = m.group("rest").strip()
        if re.match(r"VALUES", rest, re.I):
            df = self.spark.sql(f"SELECT * FROM ({rest})")
            df = df.toDF(*t.schema().fieldNames())
        else:
            df = self.spark.sql(self._rewrite_reads(rest))
        if m.group("mode").upper() == "OVERWRITE":
            # INSERT OVERWRITE honors the Iceberg/Spark dynamic toggle as a
            # table property (`write.overwrite-mode=dynamic` ≙ the session
            # conf `spark.sql.sources.partitionOverwriteMode=dynamic`):
            # replace only the partitions present in the inserted rows
            if t.properties().get("write.overwrite-mode") == "dynamic":
                return t.overwrite_partitions(df)
            return t.write(df, mode="overwrite")
        return t.write(df, mode="append")

    def _delete(self, stmt: str):
        m = re.match(
            r"DELETE\s+FROM\s+(?P<name>[\w.]+)\s+WHERE\s+(?P<pred>.+)$", stmt, re.I
        )
        if not m:
            raise ValueError(f"unsupported DELETE: {stmt[:120]!r}")
        return self.table(m.group("name")).delete_where(m.group("pred"))

    def _update(self, stmt: str):
        m = re.match(
            r"UPDATE\s+(?P<name>[\w.]+)\s+SET\s+(?P<sets>.+?)"
            r"(?:\s+WHERE\s+(?P<pred>.+))?$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported UPDATE: {stmt[:120]!r}")
        assignments = {}
        for a in _split_top(m.group("sets")):
            col, _, expr = a.partition("=")
            assignments[col.strip()] = expr.strip()
        return self.table(m.group("name")).update_where(
            m.group("pred") or "true", assignments
        )

    def _merge(self, stmt: str):
        m = re.match(
            r"MERGE\s+INTO\s+(?P<name>[\w.]+)(?:\s+AS)?\s+(?P<talias>\w+)\s+"
            r"USING\s+(?P<src>\(.*\)|[\w.]+)(?:\s+AS)?\s+(?P<salias>\w+)\s+"
            r"ON\s+(?P<on>.+?)\s+(?P<whens>WHEN\s+.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported MERGE: {stmt[:120]!r}")
        name, ta, sa = m.group("name"), m.group("talias"), m.group("salias")
        t = self.table(name)
        # ON: conjunction of talias.k = salias.k equalities → merge keys
        keys = []
        for conj in re.split(r"\s+AND\s+", m.group("on"), flags=re.I):
            em = re.match(
                rf"\s*(?:{ta}\.)?(\w+)\s*=\s*(?:{sa}\.)?(\w+)\s*$", conj, re.I
            )
            if not em or em.group(1).lower() != em.group(2).lower():
                raise ValueError(f"unsupported MERGE ON term: {conj!r}")
            keys.append(em.group(1))
        op_col, delete_value = None, "D"
        whens = m.group("whens")
        dm = re.search(
            rf"WHEN\s+MATCHED\s+AND\s+(?:{sa}\.)?(\w+)\s*=\s*'([^']*)'\s+THEN\s+DELETE",
            whens,
            re.I,
        )
        if dm:
            op_col, delete_value = dm.group(1), dm.group(2)
        um = re.search(
            r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<sets>\*|.+?)"
            r"(?=\s+WHEN\s+|$)",
            whens,
            re.I | re.S,
        )
        if not um:
            raise ValueError("MERGE needs WHEN MATCHED THEN UPDATE SET")
        sets = um.group("sets").strip()
        assignments: dict[str, str] = {}
        computed = False
        if sets != "*":
            for a in _split_top(sets):
                col, eq, rhs = a.partition("=")
                cm = re.match(rf"\s*(?:{ta}\.)?(\w+)\s*$", col, re.I)
                if not eq or not cm:
                    raise ValueError(f"unsupported MERGE assignment: {a!r}")
                c, rhs = cm.group(1), rhs.strip()
                assignments[c] = rhs
                idm = re.match(rf"\s*(?:{sa}\.)?(\w+)\s*$", rhs, re.I)
                if not (idm and idm.group(1).lower() == c.lower()):
                    computed = True  # expression RHS, e.g. s.qty + t.qty
            # a PARTIAL identity list must also resolve through the
            # computed path: unlisted columns keep the TARGET value
            # (ANSI MERGE), which the whole-row identity path can't do
            tcols = {f.name.lower() for f in t.schema().fields}
            listed = {c.lower() for c in assignments} | {k.lower() for k in keys}
            if tcols - listed:
                computed = True
        im = re.search(
            r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*"
            r"(?:(?P<star>\*)|\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*?)\))"
            r"\s*(?=WHEN\s+|$)",
            whens,
            re.I | re.S,
        )
        if not im:
            raise ValueError("MERGE needs WHEN NOT MATCHED THEN INSERT")
        # INSERT (cols) VALUES (exprs): a full-identity list is the
        # reference's INSERT * shape; anything else (computed values,
        # partial column list → NULLs) resolves through the computed path
        # instead of being silently treated as INSERT *
        inserts: dict[str, str] | None = None
        if not im.group("star"):
            icols = [c.strip() for c in _split_top(im.group("cols"))]
            ivals = [v.strip() for v in _split_top(im.group("vals"))]
            if len(icols) != len(ivals) or not icols:
                raise ValueError("MERGE INSERT column/value count mismatch")
            inserts = {}
            ins_identity = True
            for c, v in zip(icols, ivals):
                cm = re.match(rf"(?:{ta}\.)?(\w+)$", c, re.I)
                if not cm:
                    raise ValueError(f"unsupported MERGE INSERT column: {c!r}")
                cn = cm.group(1)
                inserts[cn] = v
                vm = re.match(rf"(?:{sa}\.)?(\w+)$", v, re.I)
                if not (vm and vm.group(1).lower() == cn.lower()):
                    ins_identity = False
            tcols = {f.name.lower() for f in t.schema().fields}
            unknown = {c.lower() for c in inserts} - tcols
            if unknown:
                raise ValueError(f"MERGE INSERT on unknown column(s): {sorted(unknown)}")
            if ins_identity and not (tcols - {c.lower() for c in inserts}):
                inserts = None  # full identity ≡ INSERT *
            else:
                computed = True
        src_text = m.group("src")
        if src_text.startswith("("):
            src = self.spark.sql(self._rewrite_reads(src_text[1:-1]))
        elif src_text.lower() in self._tables:
            src = self.table(src_text).scan()
        else:
            src = self.spark.table(src_text)
        # `SnapshotTable.merge` takes one source row per key; SQL MERGE
        # enforces it the way Spark does, for matched keys only (duplicate
        # unmatched keys all insert)
        dup = src.groupBy(*keys).count().filter("count > 1").select(*keys)
        if not dup.join(t.scan().select(*keys), list(keys), "left_semi").isEmpty():
            raise ValueError(
                "[MERGE_CARDINALITY_VIOLATION] The ON search condition of the "
                "MERGE statement matched a single row from the target table "
                "with multiple rows of the source table."
            )
        if computed:
            if sets == "*":  # SET * alongside a computed INSERT clause
                tcols = {f.name for f in t.schema().fields}
                assignments = {
                    c: f"{sa}.{c}" for c in src.columns if c in tcols
                }
            src = self._resolve_merge_assignments(
                t, src, keys, assignments, ta, sa, op_col, inserts
            )
        return t.merge(src, keys, op_col=op_col, delete_value=delete_value)

    @staticmethod
    def _resolve_merge_assignments(
        t, src, keys: list[str], assignments: dict[str, str],
        ta: str, sa: str, op_col: str | None,
        inserts: dict[str, str] | None = None,
    ):
        """Computed / partial MERGE assignments (`SET t.qty = s.qty +
        t.qty`): resolve each matched row's NEW values by joining the
        batch to the current table state and projecting the assignment
        expressions (the statement's own aliases resolve via DataFrame
        aliases), then hand the RESOLVED rows to the identity merge
        path — partition scoping, MOR, and CDC deletes all compose
        unchanged. Scale shape: the table side is key-semi-joined first,
        so the resolve join touches O(batch) rows, and AQE broadcasts
        the batch; unmatched source rows pass through as INSERT rows."""
        tgt = t.scan()
        cols = tgt.columns
        assign = {c.lower(): e for c, e in assignments.items()}
        unknown = set(assign) - {c.lower() for c in cols}
        if unknown:
            raise ValueError(f"MERGE SET on unknown column(s): {sorted(unknown)}")
        matched_tgt = tgt.join(src.select(*keys).distinct(), list(keys), "left_semi")
        cond = None
        for k in keys:
            e = F.col(f"{ta}.{k}").eqNullSafe(F.col(f"{sa}.{k}"))
            cond = e if cond is None else (cond & e)
        j = matched_tgt.alias(ta).join(src.alias(sa), cond, "inner")
        proj = []
        for c in cols:
            if c in keys:
                proj.append(F.col(f"{sa}.{c}").alias(c))
            elif c.lower() in assign:
                proj.append(F.expr(assign[c.lower()]).alias(c))
            else:
                proj.append(F.col(f"{ta}.{c}").alias(c))  # keep target value
        extra = [op_col] if op_col and op_col not in cols else []
        for c in extra:
            proj.append(F.col(f"{sa}.{c}").alias(c))
        matched_new = j.select(*proj)
        unmatched = src.join(tgt.select(*keys).distinct(), list(keys), "left_anti")
        if inserts is None:  # INSERT * — source rows pass through
            return matched_new.unionByName(unmatched.select(*(cols + extra)))
        # INSERT (cols) VALUES (exprs): expressions resolve against the
        # source alias; columns missing from the list insert NULL (ANSI)
        ins = {c.lower(): e for c, e in inserts.items()}
        dtypes = {f.name: f.dataType for f in tgt.schema.fields}
        un_proj = [
            F.expr(ins[c.lower()]).cast(dtypes[c]).alias(c)
            if c.lower() in ins
            else F.lit(None).cast(dtypes[c]).alias(c)
            for c in cols
        ] + [F.col(f"{sa}.{c}").alias(c) for c in extra]
        return matched_new.unionByName(unmatched.alias(sa).select(*un_proj))

    # -- procedures --------------------------------------------------------
    def _call(self, stmt: str):
        m = re.match(
            r"CALL\s+(?:[\w]+\.)?system\.(?P<proc>\w+)\s*\((?P<args>.*)\)\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported CALL: {stmt[:120]!r}")
        proc = m.group("proc").lower()
        pos, named = [], {}
        for a in _split_top(m.group("args")):
            nm = re.match(r"(\w+)\s*=>\s*(.+)$", a.strip())
            if nm:
                named[nm.group(1).lower()] = nm.group(2).strip()
            else:
                pos.append(a.strip())

        def val(key: str, i: int, default=None):
            v = named.get(key, pos[i] if i < len(pos) else None)
            if v is None:
                return default
            return v.strip().strip("'\"")

        t = self.table(val("table", 0))
        if proc == "rewrite_data_files":
            return t.compact()
        if proc == "compute_table_stats":
            cols = named.get("columns")
            col_list = None
            if cols is not None:
                col_list = [
                    x.strip().strip("'\"")
                    for x in re.sub(r"^\s*array\s*\(|\)\s*$", "", cols, flags=re.I).split(",")
                    if x.strip()
                ]
            return t.analyze(columns=col_list)
        if proc == "expire_snapshots":
            keep = val("retain_last", 1)
            older = named.get("older_than")
            older_s = None
            if older is not None:
                raw = re.sub(r"^\s*TIMESTAMP\s*", "", older.strip(), flags=re.I)
                raw = raw.strip().strip("'\"")
                try:
                    older_s = float(raw)  # epoch seconds
                except ValueError:
                    import datetime as _dt

                    ts = _dt.datetime.fromisoformat(raw)
                    if ts.tzinfo is None:
                        ts = ts.replace(tzinfo=_dt.timezone.utc)
                    older_s = ts.timestamp()
            return t.expire_snapshots(
                keep_last=int(keep) if keep else 1, older_than=older_s
            )
        if proc == "remove_orphan_files":
            return t.remove_orphan_files()
        if proc == "vacuum":
            keep = val("retain_last", 1)
            mx = val("max_files_per_partition", 2)
            return t.vacuum(
                max_files_per_partition=int(mx) if mx else 4,
                keep_last=int(keep) if keep else 2,
            )
        if proc == "add_files":
            # Iceberg `CALL system.add_files(table => t, source_table =>
            # '`parquet`.`/path`')`: register existing parquet without a
            # rewrite. The source is a path (the backtick-quoted
            # `parquet`.`<dir>` Iceberg shape or a plain quoted dir).
            src = val("source_table", 1)
            if src is None:
                raise ValueError("add_files requires (table, source_table)")
            pm = re.match(r"`?parquet`?\s*\.\s*`(?P<p>[^`]+)`$", src)
            return t.add_files(pm.group("p") if pm else src)
        if proc == "dedup_batch":
            # extension procedure (no Iceberg equivalent): incremental
            # dedup of a batch (a registered view/table of doc_id + text)
            # against a PERSISTED signature store registered as `table`.
            # algo => 'minhash' (banded LSH pairs) | 'exact' (md5 group
            # verdicts); append => true commits the batch's signatures so
            # the next call sees them. Returns the verdict DataFrame.
            src = val("source", 1)
            if src is None:
                raise ValueError("dedup_batch requires (table, source)")
            algo = (val("algo", 2, "minhash") or "minhash").lower()
            # SQL default is append=false (a CALL should be read-only
            # unless asked) — NOTE this deliberately diverges from the
            # library functions' append=True default; reject anything
            # that isn't an explicit boolean rather than silently
            # treating it as false
            raw_append = (val("append", 3, "false") or "false").lower()
            if raw_append not in ("true", "1", "false", "0"):
                raise ValueError(f"dedup_batch: append must be true/false, got {raw_append!r}")
            append = raw_append in ("true", "1")
            from .plans.dedup import (
                dedup_batch_incremental,
                dedup_batch_incremental_exact,
                minhash_batch_verdicts,
            )

            batch = self.spark.sql(self._rewrite_reads(f"SELECT * FROM {src}"))
            if algo == "minhash":
                return dedup_batch_incremental(self.spark, batch, t, append=append)
            if algo == "exact":
                return dedup_batch_incremental_exact(self.spark, batch, t, append=append)
            if algo == "verdicts":
                # the bounded MinHash verdict twin (one row per batch doc)
                return minhash_batch_verdicts(self.spark, batch, t, append=append)
            if algo == "clusters":
                # incremental dup-cluster maintenance: fold the batch into
                # the persisted component labels (labels => the label
                # store registered name); append commits signatures + the
                # changed-label MERGE
                labels_name = val("labels", 4)
                if labels_name is None:
                    raise ValueError(
                        "dedup_batch(algo => 'clusters') requires "
                        "labels => '<label store>'"
                    )
                from .plans.dedup import fold_batch_clusters

                return fold_batch_clusters(
                    self.spark, batch, t, self.table(labels_name), append=append
                )
            raise ValueError(f"dedup_batch: unknown algo {algo!r}")
        if proc == "retract_batch":
            # extension procedure: CDC retraction (takedown / license
            # filter) for an incremental store registered as `table` —
            # one merge-on-read equality-delete commit of the source's
            # key values (`source` is a registered view/table carrying
            # the key column). Returns the delete snapshot id.
            src = val("source", 1)
            if src is None:
                raise ValueError("retract_batch requires (table, source)")
            key = val("key", 2, "doc_id") or "doc_id"
            from .plans.dedup import retract_batch, retract_batch_clusters

            ids = self.spark.sql(
                self._rewrite_reads(f"SELECT {key} FROM {src}")
            )
            labels_name = val("labels", 3)
            if labels_name is not None:
                # cluster-tier retraction, a D-only batch through the
                # cluster kernel: equality-delete the ids' signatures,
                # re-derive the affected components from the survivors'
                # signature edges, and delete the ids and re-label the
                # survivors in ONE label-store MERGE — one call.
                # The cluster stores are doc_id-keyed by construction, so
                # a custom key cannot combine with labels (r13 review:
                # silently selecting `key` then reading doc_id would
                # crash or retract the wrong ids)
                if key != "doc_id":
                    raise ValueError(
                        "retract_batch: key => is not supported together "
                        "with labels => (cluster stores are doc_id-keyed)"
                    )
                # returns the label-store MERGE snapshot id — the commit
                # that completes the cluster retraction — so both facade
                # forms yield a commit handle (ADVICE r13)
                return retract_batch_clusters(
                    self.spark, ids, t, self.table(labels_name)
                )
            return retract_batch(t, ids, key=key)
        if proc == "apply_cdc_clusters":
            # extension procedure (r15): the CDC apply for the cluster
            # tier — one micro-batch of (Op, doc_id, text) rows from
            # `source` folded into the signature store (`table`) + label
            # store (labels =>) with ONE signature commit and ONE label
            # MERGE (plans/dedup.py apply_cdc_batch_clusters; same-key
            # D+U resolves upsert-wins, documented there). Returns the
            # post-apply label state for inspection.
            src = val("source", 1)
            labels_name = val("labels", 2)
            if src is None or labels_name is None:
                raise ValueError(
                    "apply_cdc_clusters requires (table, source => view, "
                    "labels => '<label store>')"
                )
            from .plans.dedup import apply_cdc_batch_clusters

            batch = self.spark.sql(
                self._rewrite_reads(f"SELECT Op, doc_id, text FROM {src}")
            )
            label_store = self.table(labels_name)
            apply_cdc_batch_clusters(self.spark, batch, t, label_store)
            return label_store.scan().select("doc_id", "label")
        if proc == "rollback_to_snapshot":
            return t.rollback_to_snapshot(int(val("snapshot_id", 1)))
        if proc == "cherrypick_snapshot":
            return t.cherry_pick_snapshot(int(val("snapshot_id", 1)))
        if proc == "fast_forward":
            # Iceberg's CALL shape is fast_forward(table, branch, to): move
            # ref `branch` forward to `to`'s head. tables.fast_forward has
            # the OPPOSITE parameter roles (branch = source head, to = ref
            # being moved), so the façade crosses them: the Iceberg `branch`
            # arg is the moved ref, the Iceberg `to` arg is the source.
            moved = val("branch", 1)
            source = val("to", 2)
            if moved is None or source is None:
                raise ValueError(
                    "fast_forward requires (table, branch, to) — Iceberg CALL shape"
                )
            return t.fast_forward(source, to=moved)
        raise ValueError(f"unsupported procedure system.{proc}")

    # -- reads -------------------------------------------------------------
    def _rewrite_reads(self, text: str) -> str:
        """Substitute registered table references (plus time-travel
        clauses and metadata suffixes) with temp views over the
        corresponding `SnapshotTable` reads; the rewritten text runs
        through real spark.sql. Substitution is quote-aware: a registered
        name inside a string literal (`WHERE src = 'orders'`) or a
        double-quoted identifier is left verbatim — only bare references
        at quote depth 0 are table reads."""
        out = text
        for name in sorted(self._tables, key=len, reverse=True):
            pat = re.compile(
                rf"(?<![\w.]){re.escape(name)}"
                rf"(?:\.(?P<meta>{'|'.join(_META_TABLES)}))?"
                rf"(?:\s+(?:FOR\s+)?(?:SYSTEM_VERSION|VERSION)\s+AS\s+OF\s+"
                rf"(?P<ver>'[^']*'|\d+))?"
                rf"(?:\s+(?:FOR\s+)?(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+"
                rf"(?P<ts>'[^']*'))?"
                rf"(?![\w.])",
                re.I,
            )
            # spans are positions in the string `pat.sub` scans (`out` at
            # this iteration) — re reports match offsets against that same
            # string, so the containment check below is exact
            spans = _quoted_spans(out)

            def sub(mm: re.Match) -> str:
                if any(a <= mm.start() < b for a, b in spans):
                    return mm.group(0)  # inside a literal: not a table read
                t = self.table(name)
                meta, ver, ts = mm.group("meta"), mm.group("ver"), mm.group("ts")
                if meta and meta.lower() == "changes":
                    # full-range changelog (Iceberg table_changes over the
                    # whole history); COW rewrites raise, as changes() does
                    df = t.changes(None, t.latest_snapshot_id())
                elif meta:
                    df = getattr(
                        t,
                        {
                            "history": "history",
                            "snapshots": "snapshots_table",
                            "files": "files_table",
                            "partitions": "partitions_table",
                            "refs": "refs_table",
                            "manifests": "manifests_table",
                            "entries": "entries_table",
                            "position_deletes": "position_deletes_table",
                            "metadata_log_entries": "metadata_log_entries_table",
                        }[meta.lower()],
                    )()
                elif ver:
                    ref = ver.strip("'")
                    df = t.scan_at(int(ref) if ref.isdigit() else ref)
                elif ts:
                    df = t.scan_as_of(ts.strip("'"))
                else:
                    df = t.scan()
                self._viewn += 1
                vname = f"__sqlext_{self._viewn}"
                df.createOrReplaceTempView(vname)
                return vname

            out = pat.sub(sub, out)
        return out
