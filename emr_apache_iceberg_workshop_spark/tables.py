"""Snapshot-versioned parquet tables — the Iceberg stand-in.

No iceberg-spark-runtime jar exists in this environment, so the reference's
Iceberg surface (SURVEY.md §2.1 S5-S14) is reproduced on plain parquet with
a JSON metadata file providing the same observable semantics:

- snapshot ids + history            (`bronze-silver.py:116-138`, metadata table)
- incremental snapshot-range reads  (`bronze-silver.py:146-149`, appends-only)
- append / overwrite / DDL-create   (`raw-bronze.py:178-183`, `bronze-silver.py:194-203`)
- partitioned writes                (`raw-bronze.py:175-176`, `bronze-silver.py:199-201`)
- table properties incl. EXECUTED write modes (`raw-bronze.py:159-170`,
  `bronze-silver.py:178-191`): `write.merge.mode=copy-on-write` merges
  rewrite only the AFFECTED PARTITIONS (partition-exclusion masks over
  older dirs — Iceberg COW's file-scoped rewrite at partition granularity);
  `merge-on-read` merges append the upserted rows plus a key-delete file
  and the scan applies them (Iceberg MOR equality-deletes), so merge cost
  scales with the BATCH, not the table
- MERGE INTO                        (`bronze-silver.py:249-285`) via
  operators.relational.merge_upsert + a new snapshot commit

Commit protocol: data files land under `data/s<id>/` first (written to a
unique staging dir and atomically renamed into place, so two writers can
never interleave files), then `_meta.json` is replaced atomically
(tmp + rename). A crash before the rename leaves the table at the
previous snapshot — same commit-then-visible contract as Iceberg's
metadata swap. Multi-writer safety is OPTIMISTIC, like the Glue/Iceberg
locking the reference inherits (`raw-bronze.py:104-107`): every commit
is a compare-and-swap on the metadata's `commit_seq` under a short
root-level lock file; a stale commit raises `CommitConflict` instead of
silently dropping the other writer's snapshot. `write()` retries
non-conflicting appends/overwrites by REBASING onto the fresh head
(renaming its already-written data dir to the new snapshot id — data is
written once); DML/merge/maintenance commits computed against a stale
state refuse, exactly Iceberg's validation behavior.

Every snapshot record is built by ONE helper, `_commit_snapshot` (next
sid, parent, commit time, inherited active state, streaming replay-guard
stamp, ref advance, CAS commit), and every row-level mutation is one of
two kernels: the merge-on-read delta commit `_commit_mor_delta` (an
optional data dir plus one equality or positional delete file — MOR
MERGE, DELETE, UPDATE and `delete_keys`) or the partition-scoped rewrite
`_rewrite_partitions` (touched partitions rewritten and masked out of
older dirs — COW MERGE, DELETE, UPDATE, `maintain` and
`overwrite_partitions`).

Scale: the table state is a list of parquet directories. Every read goes
through one reader, `_read_entries`: the state's dirs that share one read
mapping (name mapping, partition layout, exclusions — normally all of
them) are ONE multi-path parquet relation with `data/` as its partition
base, so Spark plans and splits the state's files together, and
partition pruning, column pruning and predicate pushdown all work
normally. Incremental reads scan only the snapshot directories in range
— the same file-skipping effect as Iceberg's incremental scan. Every file
the engine wrote is read with the schema the metadata records (data dirs:
the table schema; equality deletes: their key fields; positional
deletes: `file_rel, pos`; masks: the partition tuple), so building a scan
launches no Spark job. A MOR scan tags each data row with its snapshot
id parsed from the file path, and all delete files of a key set form one
relation with their ids parsed the same way: the data anti-joins that
one relation, AQE broadcasts it once, and the jobs and scan tasks a scan
runs stay flat as history grows (`tools/history_probe.py` measures both).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.relational import merge_upsert
from .partitioning import PartitionField, field_expr, parse_spec, prune_keep
from .session import scoped_confs

_META = "_meta.json"
_LOCK = ".commit.lock"
# streaming replay guard: the summary stamp of a sink commit, and the
# property that holds the max committed batch id per query scope
_BATCH_ID = "streaming.batch-id"
_QUERY_SCOPE = "streaming.query-scope"
_STREAM_GUARD_PROP = "streaming.max-batch-id"


def _stream_guard_key(scope: str | None) -> str:
    return _STREAM_GUARD_PROP if scope is None else f"{_STREAM_GUARD_PROP}.{scope}"


_LOCK_STALE_S = 60.0  # a lock older than this is a crashed writer's orphan
_LOCK_WAIT_S = 10.0


class CommitConflict(RuntimeError):
    """Another writer committed since this operation loaded the table
    state (optimistic-concurrency CAS failure). Appends auto-retry by
    rebasing; other operations surface this — re-run them against the
    fresh state."""


@dataclass
class Snapshot:
    snapshot_id: int
    made_current_at: float  # epoch seconds
    operation: str  # "append" | "overwrite" | "create" | "merge"
    dirs: list[str]  # data dirs NEW in this snapshot
    active_dirs: list  # full table state at this snapshot (str | {dir, exclude})
    summary: dict = field(default_factory=dict)
    partitions: list | None = None  # partition tuples written in this snapshot
    delete_file: str | None = None  # MOR: key-delete parquet added here
    active_deletes: list = field(default_factory=list)  # [{file, sid, keys}]
    files: list = field(default_factory=list)  # manifest: data files added here
    delete_file_stats: list = field(default_factory=list)  # manifest: delete files
    parent_id: int | None = None  # lineage parent (None: root or legacy linear)
    # above-cap COW/dynamic-overwrite commits reference their touched-
    # partition set as a parquet mask file instead of inline tuples;
    # without this field `snapshots()` raised on any such table's history
    mask_file: str | None = None


def _probe_collect(df, cap: int) -> list:
    """Completeness-probe collect: `df.limit(cap + 1).collect()` with the
    incremental-limit scale-up disabled for THIS collect only.

    Spark's CollectLimit executes incrementally (1 partition, then 4×
    more per `spark.sql.limit.scaleUpFactor`, …) — right for top-N
    sampling, pure overhead for a completeness probe: the probe expects
    to read the ENTIRE set (≤ cap rows back proves it did), so the first
    attempt almost never satisfies `cap + 1` and every retry is an extra
    scheduled job over the same shuffle output (measured r15: 5 → 3 jobs,
    ~0.1s per probe on an idle host, more under load).
    `initialNumPartitions` is pinned high around the collect
    (`session.scoped_confs`, which restores it on every exit path), so
    sampling limits elsewhere (e.g. the k-means sample window) keep their
    early-exit."""
    with scoped_confs(df.sparkSession, {"spark.sql.limit.initialNumPartitions": "1000000"}):
        return df.limit(cap + 1).collect()


def _is_local(df: DataFrame) -> bool:
    """True when `df` is data the driver already holds: a deterministic
    plan whose optimized leaves are all `LocalRelation` — the
    `operators.graph.labels_df` Arrow frames and any select, filter,
    distinct or union over them. Re-evaluating such a plan yields the
    same rows by value, so an eager localCheckpoint taken to pin it is a
    pure extra Spark job. Determinism is read off the ANALYZED plan: the
    optimizer folds a `rand()` projection over a LocalRelation into fresh
    literal rows, so the optimized plan looks deterministic while every
    re-optimization draws new values."""
    qe = df._jdf.queryExecution()
    if not qe.analyzed().deterministic():
        return False
    leaves = qe.optimizedPlan().collectLeaves()
    return all(
        leaves.apply(i).getClass().getSimpleName() == "LocalRelation"
        for i in range(leaves.size())
    )


def _entry_rel(e) -> str:
    """active_dirs entry → data dir rel path (entries are either a plain
    rel string or {"dir": rel, "exclude": [partition tuples],
    "exclude_masks": [mask-file rels]})."""
    return e if isinstance(e, str) else e["dir"]


def _entry_excl(e) -> list:
    return [] if isinstance(e, str) else e.get("exclude", [])


def _entry_masks(e) -> list:
    """Mask-FILE exclusion rels: above the COW scope cap the touched-
    partition set is written as a parquet file (`masks/s{sid}`) instead
    of being inlined in metadata — bounding both driver memory and the
    per-dir exclusion predicate at any partition cardinality."""
    return [] if isinstance(e, str) else e.get("exclude_masks", [])


def _load_mask_tuples(root: str, rels: list) -> list[dict]:
    """Mask-file partition tuples in canonical string form. Driver-side
    — used only by file planning (`_entry_files`), where O(masked
    partitions) is the same cost class as Iceberg's manifest planning."""
    import pyarrow.parquet as pq

    out = []
    for rel in rels:
        for row in pq.read_table(os.path.join(root, rel)).to_pylist():
            out.append({k: _part_str(v) for k, v in row.items()})
    return out


def _dir_sid(rel: str) -> int:
    """data/s7 or deletes/s7 → 7 (the snapshot that wrote the dir)."""
    return int(rel.rsplit("/s", 1)[-1])


# positional-delete file layout: (data file path relative to the table
# root, row index in that file) — `_POS_IDENTITY` of a positioned scan
_POS_DELETE_SCHEMA = T.StructType(
    [T.StructField("file_rel", T.StringType()), T.StructField("pos", T.LongType())]
)
_POS_IDENTITY = ("__rel AS file_rel", "__pos AS pos")  # selectExpr form


def _data_sid_expr(rel):
    """Column: the snapshot id of a data row's dir, parsed from its
    root-relative path `rel` (`data/s<id>/...`). A per-row expression,
    not a literal per dir: Catalyst cannot fold it into the delete side
    of the MOR anti-join, so every data relation joins the SAME delete
    relation and AQE broadcasts it once (a literal sid made one filtered
    delete relation — and one broadcast job — per dir)."""
    return F.regexp_extract(rel, r"^data/s(\d+)/", 1).cast("long")


def _file_sid_expr():
    """Column: the snapshot id in the path of the file a row was read
    from, for the flat `<kind>/s<id>/<file>` dirs (deletes, masks).
    Anchored at the file name, so the table root's own form (URI
    encoding, a `/s9/` segment of its own) cannot match."""
    return F.regexp_extract("_metadata.file_path", r"/s(\d+)/[^/]+$", 1).cast("long")


def _part_str(v):
    """Canonical string form for a partition value — the same form the
    partition DIRECTORY name uses (`col=value`), so tuples computed from a
    DataFrame collect compare equal to tuples listed from disk. None stays
    None (Hive default partition). The exclusion filter compares
    `col == lit(str)`; Spark casts the literal to the column type."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _unescape_path(v: str) -> str:
    """Spark's `unescapePathName`: %XX sequences of a partition
    directory name back to their characters."""
    if "%" not in v:
        return v
    out, i, n = [], 0, len(v)
    while i < n:
        c = v[i]
        if c == "%" and i + 3 <= n:
            try:
                out.append(chr(int(v[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _raw_part(part: dict) -> dict:
    """A partition tuple as recorded from a directory name (the manifest
    `partition` of a file, a snapshot's `partitions`) in the RAW form of
    exclusion tuples (`_part_str` of data values). Directory names are
    hive-ESCAPED ('a/b' is `cat=a%2Fb`), so the two forms compare equal
    only after this."""
    return {k: None if v is None else _unescape_path(_part_str(v)) for k, v in part.items()}


def _part_repr(part: dict) -> str:
    """A manifest partition tuple in directory form (`a=1/b=x`), as the
    metadata tables print it."""
    return "/".join(
        f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}" for c, v in part.items()
    )


def _file_part(f: dict) -> dict:
    """The raw partition tuple of manifest entry `f`."""
    return _raw_part(f["partition"])


def _ddl_split(ddl: str) -> list[str]:
    """The top-level field definitions of a schema DDL string in either
    stored form ("a bigint, b string" or "a:bigint,b:string"). Depth
    tracks (...) and <...>, so decimal(10,2), map<string,int> and
    struct<a:int,b:string> commas do not split. Pure Python: the format
    reader plans in a data-source worker without a JVM."""
    fields, depth, cur = [], 0, []
    for ch in ddl + ",":
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            f = "".join(cur).strip()
            if f:
                fields.append(f)
            cur = []
        else:
            cur.append(ch)
    return fields


def _ddl_names(ddl: str) -> list[str]:
    """Field names of a schema DDL string: the prefix before the first
    ':' or space (a struct field's inner colons sit behind '<')."""
    names = []
    for f in _ddl_split(ddl):
        head = f.split("<", 1)[0].split("(", 1)[0]
        names.append((head.split(":")[0].split(" ")[0] if head else f).strip("`"))
    return names


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, clock=None):
        self.spark = spark
        self.root = root
        # injectable commit clock (tests / deterministic fixture builds);
        # same seam as the pipelines' injectable processing-time clock
        self._clock = clock or time.time

    # -- metadata ----------------------------------------------------------
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, _META)

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, _META))

    def _load(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _acquire_lock(self):
        """Root-level commit lock (O_EXCL create): held only around the
        CAS-check + metadata swap, never around data writes. A lock file
        older than _LOCK_STALE_S is a crashed writer's orphan and is
        broken — via an ATOMIC RENAME to a per-breaker name, so of N
        waiters that judge the same lock stale exactly one wins the
        rename (the rest see FileNotFoundError and loop); unlink-then-
        recreate would let a second breaker unlink the first breaker's
        FRESH lock and admit two writers to the CAS section. The rename
        winner verifies by inode that it moved the file it judged stale
        (not a fresh lock that slipped into the µs check→rename window)
        and restores it otherwise."""
        path = os.path.join(self.root, _LOCK)
        deadline = time.time() + _LOCK_WAIT_S
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return path
            except FileExistsError:
                try:
                    st = os.stat(path)
                    if time.time() - st.st_mtime > _LOCK_STALE_S:
                        broken = f"{path}.broken-{uuid.uuid4().hex}"
                        os.rename(path, broken)  # atomic: one breaker wins
                        if os.stat(broken).st_ino == st.st_ino:
                            os.unlink(broken)  # the stale orphan, confirmed
                        else:
                            # a fresh lock replaced the orphan between the
                            # stat and the rename — hand it back
                            os.rename(broken, path)
                        continue
                except OSError:
                    continue  # raced with the holder's release / a breaker
                if time.time() > deadline:
                    raise TimeoutError(
                        f"commit lock {path} held for >{_LOCK_WAIT_S}s"
                    ) from None
                time.sleep(0.02)

    def _commit(self, meta: dict) -> None:
        """Optimistic commit: compare-and-swap on `commit_seq`. `meta`
        carries the sequence it was LOADED at; if the on-disk sequence
        moved (another writer committed in between), raise CommitConflict
        instead of silently overwriting their snapshot — the caller
        re-loads and either rebases (appends) or refuses (DML computed
        against a stale state). The critical section is the seq check +
        atomic rename only."""
        base = int(meta.get("commit_seq", 0))
        lock = self._acquire_lock()
        try:
            if os.path.exists(self._meta_path):
                with open(self._meta_path) as f:
                    cur = int(json.load(f).get("commit_seq", 0))
            else:
                cur = 0
            if cur != base:
                raise CommitConflict(
                    f"table {self.root} advanced (commit_seq {base} -> {cur}) "
                    f"since this operation loaded it"
                )
            meta["commit_seq"] = base + 1
            tmp = self._meta_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(meta, f, separators=(",", ":"))  # compact: parsed by every load
            os.replace(tmp, self._meta_path)  # atomic snapshot swap
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    @staticmethod
    def _next_sid(meta: dict) -> int:
        """The id the next snapshot committed on `meta` takes — what a
        writer names its `data/s<id>` / `deletes/s<id>` dirs after before
        `_commit_snapshot` claims it."""
        snaps = meta["snapshots"]
        return (snaps[-1]["snapshot_id"] + 1) if snaps else 1

    def _ref_head(self, meta: dict, branch: str) -> dict | None:
        """Head of `branch`; a branch that does not exist yet starts from
        main's head (a write to it creates it)."""
        try:
            return self._head(meta, branch)
        except ValueError:
            return self._head(meta)

    def _commit_snapshot(
        self, meta: dict, operation: str, summary: dict, branch: str = "main", **fields
    ) -> int:
        """Append one snapshot record to `meta` and commit it — the one
        place a record is built. Claims the next sid; `parent_id` is
        `branch`'s head. Unless `fields` passes them, `active_dirs` is the
        head's plus this commit's `dirs` and `active_deletes` the head's.
        A commit that advances main folds its summary's streaming stamp
        (callers merge in `summary_extra`) into the replay-guard property
        in the same swap; branch commits never stamp (ADVICE r13: a stamp
        for data that may never reach main would make a later replay skip
        a lost batch — `fast_forward` and cherry-pick stamp on publish)."""
        main, prev = self._head(meta), self._ref_head(meta, branch)
        sid = self._next_sid(meta)
        rec = {
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"] if prev else None,
            "made_current_at": self._clock(),
            "operation": operation,
            "dirs": [],
            **fields,
        }
        rec.setdefault("active_dirs", (prev["active_dirs"] if prev else []) + rec["dirs"])
        rec.setdefault("active_deletes", list(prev.get("active_deletes", [])) if prev else [])
        rec["summary"] = summary
        meta["snapshots"].append(rec)
        if branch == "main":
            self._stamp_stream_guard(meta, summary)
        self._advance(meta, branch, sid, main["snapshot_id"] if main else None)
        self._commit(meta)
        return sid

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._load()["snapshots"]]

    def snapshot(self, snapshot_id: int) -> Snapshot:
        """One snapshot by id from one metadata load; `snapshots()`
        builds every entry of the history."""
        return Snapshot(**self._resolve_ref(self._load(), snapshot_id))

    def latest_snapshot_id(self) -> int | None:
        head = self._head(self._load())
        return head["snapshot_id"] if head else None

    def properties(self) -> dict:
        return self._load().get("properties", {})

    def set_properties(self, updates: dict) -> None:
        """Update table properties (Iceberg `ALTER TABLE ... SET
        TBLPROPERTIES` / `WRITE ORDERED BY`): a metadata-file swap, no
        snapshot — matching Iceberg, where property changes version the
        metadata but add nothing to the snapshot log. Takes effect for
        FUTURE writes (e.g. `write.sort-order`, `write.merge.mode`)."""
        meta = self._load()
        meta.setdefault("properties", {}).update(
            {k: str(v) for k, v in updates.items()}
        )
        self._commit(meta)

    # -- streaming replay guard (exact-scope max batch id) ------------------
    # A streaming sink stamps each commit's summary with its batch id and
    # query scope (`stream_stamp`). A commit that advances main also folds
    # the id into the table property `streaming.max-batch-id[.<scope>]`, in
    # the same metadata swap as the snapshot, so the replay lookup on main
    # reads one property instead of walking the snapshot log. A scope's
    # stamps guard that scope only: an unscoped commit guards unscoped
    # callers, never a scoped stream.

    @staticmethod
    def _stamp_stream_guard(meta: dict, summary: dict | None) -> None:
        """Fold `summary`'s streaming stamp into the guard property of its
        scope. Called for main-advancing commits only (`_commit_snapshot`,
        and `fast_forward` at publish), on the in-flight `meta`."""
        bid = (summary or {}).get(_BATCH_ID)
        if bid is None:
            return
        props = meta.setdefault("properties", {})
        key = _stream_guard_key(summary.get(_QUERY_SCOPE))
        if props.get(key) is None or int(bid) > int(props[key]):
            props[key] = str(int(bid))

    def max_stream_batch_id(self, scope: str | None, branch: str = "main") -> int | None:
        """Highest streaming batch id committed under exactly `scope` on
        `branch` (None: none yet). On main this is the guard property, O(1)
        in table history. Branch commits never stamp the property (ADVICE
        r13: a stamp for data that may never reach main would make a later
        replay skip a lost batch), so a branch walks its head's lineage."""
        meta = self._load()
        if branch == "main":
            v = meta.get("properties", {}).get(_stream_guard_key(scope))
            return None if v is None else int(v)
        head = self._ref_head(meta, branch)
        ids = [
            int(s["summary"][_BATCH_ID])
            for s in (self._lineage(meta, head["snapshot_id"]) if head else [])
            if s.get("summary", {}).get(_BATCH_ID) is not None
            and s["summary"].get(_QUERY_SCOPE) == scope
        ]
        return max(ids, default=None)

    def stream_stamp(
        self, scope: str | None, batch_id: int | None, branch: str = "main"
    ) -> dict | None:
        """The replay guard of every streaming sink. None: batch `batch_id`
        of `scope` is already committed on `branch`, so the caller skips it.
        Otherwise the summary stamp the caller passes as `summary_extra` to
        the commit that lands the batch. A None `batch_id` is an unguarded
        call: an empty stamp, no lookup."""
        if batch_id is None:
            return {}
        done = self.max_stream_batch_id(scope, branch)
        if done is not None and batch_id <= done:
            return None
        stamp = {_BATCH_ID: int(batch_id)}
        if scope is not None:
            stamp[_QUERY_SCOPE] = scope
        return stamp

    # -- branch refs (Iceberg branch/WAP model) ----------------------------
    # `meta["branches"]` maps ref name → snapshot id. The map is
    # materialized lazily: a purely linear table omits it and `main` is
    # implicitly the last snapshot (back-compat with pre-branch metadata
    # and the committed fixtures). The first non-main write pins `main`
    # explicitly, because from then on the snapshot LIST is no longer the
    # main lineage — each snapshot carries `parent_id` and lineage is the
    # parent chain (absent parent_id ⇒ dense linear history, parent=sid-1).

    def _head(self, meta: dict, branch: str = "main") -> dict | None:
        """Head snapshot entry of `branch`; None for an empty main."""
        snaps = meta["snapshots"]
        refs = meta.get("branches", {})
        if branch not in refs:
            if branch == "main":
                return snaps[-1] if snaps else None
            raise ValueError(f"unknown branch {branch!r}")
        sid = refs[branch]
        if sid is None:
            # main pinned at "no snapshot" (a branch was written before
            # main's first commit)
            if branch == "main":
                return None
            raise ValueError(f"branch {branch!r} points at no snapshot")
        for s in snaps:
            if s["snapshot_id"] == sid:
                return s
        raise ValueError(f"branch {branch!r} points at expired snapshot {sid}")

    @staticmethod
    def _advance(meta: dict, branch: str, sid: int, prev_main: int | None) -> None:
        """Move `branch` to `sid` after appending that snapshot. Writing a
        non-main branch pins `main` at its pre-commit head first (the list
        tail stops being the main lineage at that moment)."""
        if branch == "main" and "branches" not in meta:
            return  # linear table: main stays implicit
        refs = meta.setdefault("branches", {})
        if branch != "main" and "main" not in refs:
            # pin main at its pre-commit head — possibly None (branch
            # written before main's first commit): once the snapshot list
            # holds branch commits, implicit main is no longer derivable
            refs["main"] = prev_main
        refs[branch] = sid

    @staticmethod
    def _dir_manifest(meta: dict, by_sid: dict, rel: str) -> dict:
        """Manifest source for a data/delete dir: its owning snapshot
        entry, or the relocated stub `expire_snapshots` saves when the
        owning snapshot is dropped while the dir stays referenced by a
        kept snapshot (Iceberg keeps manifests independent of the
        snapshot log; this layer stores them in the owning entry, so
        expiry must move them aside instead of losing them)."""
        s = by_sid.get(_dir_sid(rel))
        if s is not None:
            return s
        return meta.get("dir_manifests", {}).get(rel, {})

    def _entry_files(self, meta: dict, by_sid: dict, e) -> tuple[str, list, list[dict]]:
        """(dir rel, exclusion tuples, live manifest entries) of one
        active-dir entry `e`: the files of its dir minus those whose
        partition a later partition-scoped rewrite masked, inline or
        through a mask file. A manifest records the hive-escaped
        directory segment and an exclusion tuple the raw value, so the
        file side is unescaped before the comparison (`_file_part`)."""
        rel, excl, masks = _entry_rel(e), _entry_excl(e), _entry_masks(e)
        if masks:
            excl = excl + _load_mask_tuples(self.root, masks)
        files = [
            f for f in self._dir_manifest(meta, by_sid, rel).get("files", [])
            if f["path"].startswith(rel + "/") and _file_part(f) not in excl
        ]
        return rel, excl, files

    @staticmethod
    def _snapshot_state(snap: dict | None) -> tuple[list, list]:
        """(active-dir entries, active delete entries) of snapshot entry
        `snap` (None: an empty main) — the table state a read plans from."""
        if snap is None:
            return [], []
        return snap["active_dirs"], snap.get("active_deletes", [])

    def _snapshot_files(self, meta: dict, snap: dict | None) -> list[tuple[str, dict]]:
        """(dir rel, manifest entry) for every data file live in snapshot
        `snap` of `meta` (None: an empty main) — the one rule for "which
        files does this state read", shared by the metadata tables, file
        pruning and the Iceberg emitter; the `eiws` format reader plans
        per entry through the same `_entry_files`."""
        by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}
        out = []
        for e in self._snapshot_state(snap)[0]:
            rel, _excl, files = self._entry_files(meta, by_sid, e)
            out += [(rel, f) for f in files]
        return out

    def _snapshot_deletes(self, meta: dict, snap: dict | None) -> list[tuple[dict, list]]:
        """(active delete entry, its delete-file manifest entries) for
        every delete file live in snapshot `snap` of `meta`."""
        by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}
        return [
            (d, self._dir_manifest(meta, by_sid, d["file"]).get("delete_file_stats", []))
            for d in self._snapshot_state(snap)[1]
        ]

    @staticmethod
    def _parent_id(s: dict) -> int | None:
        sid = s["snapshot_id"]
        return s.get("parent_id", sid - 1 if sid > 1 else None)

    def _lineage(self, meta: dict, head_sid: int) -> list[dict]:
        """Snapshot entries on the parent chain of `head_sid`, newest
        first, stopping at the oldest retained ancestor. Cycle-guarded:
        a corrupt parent_id loop (hand-edited metadata, a future
        commit-path bug) terminates at the first revisit instead of
        hanging every lineage consumer — the emitter, the freshness
        guard, and the replay-guard walks all route through here
        (review r14)."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        chain: list[dict] = []
        seen: set[int] = set()
        cur: int | None = head_sid
        while cur is not None and cur in by_id and cur not in seen:
            seen.add(cur)
            s = by_id[cur]
            chain.append(s)
            cur = self._parent_id(s)
        return chain

    # -- DDL ---------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType | str,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
        clock=None,
    ) -> "SnapshotTable":
        """Empty-table DDL (reference `bronze-silver.py:171-174,194-203`:
        empty DF + writeTo().create() with format-version/write-mode props)."""
        os.makedirs(root, exist_ok=True)
        if isinstance(schema, T.StructType):
            schema_ddl = schema.simpleString()[len("struct<") : -1]
        else:
            schema_ddl = schema
        cols = {f.name for f in T.StructType.fromDDL(schema_ddl).fields}
        for f in parse_spec(partition_by or []):
            if f.source not in cols:
                raise ValueError(f"unknown partition source column {f.source}")
        t = cls(spark, root, clock=clock)
        t._commit(
            {
                "schema": schema_ddl,
                "partition_by": partition_by or [],
                "properties": {"format-version": "2", **(properties or {})},
                "snapshots": [],
            }
        )
        return t

    def schema(self) -> T.StructType:
        return T.StructType.fromDDL(self._load()["schema"])

    # -- writes ------------------------------------------------------------
    @staticmethod
    def _col_bounds(md) -> dict:
        """Per-column [min, max] from the parquet footer (JSON-safe scalar
        columns only), merged across row groups — the stats an Iceberg
        manifest stores per data file, enabling file-level pruning before
        any file is opened."""
        bounds: dict = {}
        # a bound is file-wide ONLY if every row group has stats for the
        # column; a partial bound treated as file-wide would let pruning
        # skip a file whose stat-less row group holds matching rows
        incomplete: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None or not st.has_min_max:
                    incomplete.add(name)
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    incomplete.add(name)  # physical byte stats (e.g. decimals)
                    continue
                if not isinstance(mn, (int, float, str, bool)):
                    mn, mx = str(mn), str(mx)  # dates/timestamps → ISO strings
                if name in bounds:
                    lo, hi = bounds[name]
                    bounds[name] = [min(lo, mn), max(hi, mx)]
                else:
                    bounds[name] = [mn, mx]
        return {k: v for k, v in bounds.items() if k not in incomplete}

    @staticmethod
    def _col_nulls(md) -> dict:
        """Per-column null counts from the footer, merged across row
        groups; a column missing stats in ANY row group is omitted (a
        partial count is not a count)."""
        nulls: dict = {}
        incomplete: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if st is None or st.null_count is None:
                    incomplete.add(col.path_in_schema)
                    continue
                nulls[col.path_in_schema] = nulls.get(col.path_in_schema, 0) + st.null_count
        return {k: v for k, v in nulls.items() if k not in incomplete}

    @staticmethod
    def _split_offsets(md) -> list[int]:
        """Row-group start offsets (Iceberg split_offsets): where an
        engine may split the file for parallel reads."""
        offs = []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            off = col.dictionary_page_offset
            offs.append(int(off if off is not None else col.data_page_offset))
        return offs

    @staticmethod
    def _stat_one(fp: str, base: str, rel_dir: str) -> dict:
        """Manifest entry for ONE parquet file (partition tuple parsed
        from the hive path, footer-derived rows/bounds/nulls/splits)."""
        import pyarrow.parquet as pq

        relp = os.path.relpath(fp, base)
        part: dict = {}
        d = os.path.dirname(relp)
        for seg in d.split(os.sep) if d else []:
            if "=" in seg:
                c, v = seg.split("=", 1)
                part[c] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        md = pq.ParquetFile(fp).metadata
        return {
            "path": os.path.join(rel_dir, relp),
            "partition": part,
            "rows": md.num_rows,
            "bytes": os.path.getsize(fp),
            "bounds": SnapshotTable._col_bounds(md),
            "nulls": SnapshotTable._col_nulls(md),
            "split_offsets": SnapshotTable._split_offsets(md),
        }

    def _file_stats(self, rel_dir: str) -> list[dict]:
        """Manifest entries for every parquet file under `rel_dir`: path,
        partition tuple, row count (parquet footer), bytes, per-column
        min/max bounds + null counts, row-group split offsets — exactly
        the bookkeeping an Iceberg writer does when it builds a manifest.
        A driver-side walk and footer read, about 0.3 ms per file on local
        disk (SCALE.md, round 10)."""
        base = os.path.join(self.root, rel_dir)
        out = [
            self._stat_one(os.path.join(dirpath, fn), base, rel_dir)
            for dirpath, _dirs, files in os.walk(base)
            for fn in files
            if fn.endswith(".parquet")
        ]
        out.sort(key=lambda f: f["path"])
        return out

    def _write_data_dir(
        self, df: DataFrame, meta: dict, sid: int
    ) -> tuple[str, list, list]:
        """Write df under data/s{sid}; returns (rel, written partition
        tuples, per-file manifest entries). Partition listing is a
        driver-side walk of the fresh dir — O(partition count), the same
        scale as Iceberg manifest entries."""
        stage, part_names = self._stage_data_dir(df, meta)
        rel = f"data/s{sid}"
        out = os.path.join(self.root, rel)
        self._publish_dir(stage, out, cleanup_on_conflict=True)
        return rel, self._list_partitions(out, part_names), self._file_stats(rel)

    def _stage_data_dir(self, df: DataFrame, meta: dict) -> tuple[str, list[str]]:
        """Write df to a UNIQUE staging dir under data/ (the heavy Spark
        job, done outside any lock or snapshot-id claim); returns (stage
        path, partition column names). `_publish_dir` renames it to its
        committed data/s{sid} name atomically."""
        fields = self._part_fields(meta)
        stage = os.path.join(self.root, f"data/.stage-{uuid.uuid4().hex[:12]}")
        schema = T.StructType.fromDDL(meta["schema"])
        # hidden partitioning: derive the transformed partition columns
        # (days/bucket/truncate/... of a source column) before the write;
        # Spark's partitionBy strips them into directory names, so data
        # files keep only the source column — exactly Iceberg's layout
        for f in fields:
            if f.transform != "identity":
                df = df.withColumn(f.name, field_expr(f, schema))
        part_names = [f.name for f in fields]
        # Iceberg `write.distribution-mode=hash`: cluster rows by the
        # partition key before the write so each partition's rows land in
        # few tasks. Without it, N write tasks × P live partitions emit
        # N·P files — the small-file explosion that kills 100 TB tables.
        # `range` range-partitions on the sort order (or partition keys),
        # giving every output file a DISJOINT value range — the layout
        # that makes manifest min/max pruning maximally effective.
        # Default 'none' preserves the caller's layout (the reference's
        # writers pre-arrange their data; fixtures rely on it).
        props = meta.get("properties", {})
        dist = props.get("write.distribution-mode", "none")
        sort_cols = [
            c.strip() for c in props.get("write.sort-order", "").split(",") if c.strip()
        ]
        if dist == "hash" and part_names:
            df = df.repartition(*[F.col(c) for c in part_names])
        elif dist == "range":
            rng = sort_cols or part_names
            if not rng:
                raise ValueError(
                    "write.distribution-mode=range needs write.sort-order "
                    "or a partition spec"
                )
            # optional explicit task count; default lets AQE size the
            # ranges by bytes (the right behavior at scale — small tables
            # coalesce to few files, large ones split)
            n = props.get("write.range-partitions")
            cols = [F.col(c) for c in rng]
            df = (
                df.repartitionByRange(int(n), *cols)
                if n
                else df.repartitionByRange(*cols)
            )
        if sort_cols:
            # Iceberg `write.sort-order`: local (within-task) sort before
            # the write — no extra shuffle, tight per-file min/max bounds
            df = df.sortWithinPartitions(*sort_cols)
        writer = df.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        # unique staging dir: concurrent writers can never interleave
        # files in a snapshot dir; publish is one atomic rename
        writer.parquet(stage)
        return stage, part_names

    def _publish_dir(self, stage: str, out: str, cleanup_on_conflict: bool = False) -> None:
        """Atomically move a staged dir into its committed-name location;
        an existing target means another (possibly crashed) writer took
        this snapshot id — surface it as a CommitConflict, never
        interleave. With `cleanup_on_conflict` the stage is discarded on
        failure (callers that retry keep it and republish under a new
        snapshot id)."""
        import shutil as _shutil

        try:
            os.rename(stage, out)
        except OSError as e:
            if cleanup_on_conflict:
                _shutil.rmtree(stage, ignore_errors=True)
            raise CommitConflict(
                f"{out} already exists — concurrent writer took this "
                f"snapshot id (or a crashed writer left an orphan; "
                f"remove_orphan_files cleans those)"
            ) from e

    def _move_dir(self, old_rel: str, new_rel: str, files: list) -> list:
        """Rebase an already-written (uncommitted) dir to a new snapshot
        id: one atomic rename + path fix-up of its manifest entries."""
        self._publish_dir(
            os.path.join(self.root, old_rel), os.path.join(self.root, new_rel)
        )
        return [
            {**f, "path": new_rel + f["path"][len(old_rel):]} for f in files
        ]

    @staticmethod
    def _part_fields(meta: dict) -> list[PartitionField]:
        return parse_spec(meta["partition_by"])

    @staticmethod
    def _list_partitions(out: str, part_cols: list[str]) -> list:
        """Partition tuples present under a freshly-written dir, as
        [{col: str_value | None}] (None for the Hive default partition)."""
        if not part_cols:
            return []
        tuples: list = []

        def walk(path: str, depth: int, acc: dict) -> None:
            if depth == len(part_cols):
                tuples.append(dict(acc))
                return
            col = part_cols[depth]
            for name in sorted(os.listdir(path)):
                if not name.startswith(f"{col}="):
                    continue
                raw = name[len(col) + 1 :]
                val = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                acc[col] = val
                walk(os.path.join(path, name), depth + 1, acc)
                del acc[col]

        walk(out, 0, {})
        return tuples

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        operation: str | None = None,
        branch: str = "main",
        summary_extra: dict | None = None,
    ) -> int:
        """Append or overwrite; returns the new snapshot id. `branch`
        stages the commit on a named ref instead of `main` (Iceberg WAP:
        `spark.wap.branch` writes land on the branch; `main` readers are
        unaffected until `fast_forward` publishes it). Writing to a branch
        that doesn't exist creates it from the current `main` head.

        Concurrency: the data is written ONCE (to a staged dir renamed
        into place); if another writer commits first, an APPEND is
        retried REBASED on the fresh head — the staged dir is renamed to
        the new snapshot id, the snapshot entry rebuilt (an append's
        whole contribution is its own dir, the Iceberg retry rule).
        Overwrites (including the COW DML rewrites routed through here)
        REFUSE a stale base with CommitConflict: their content was
        computed against a state another writer just changed."""
        meta = self._load()
        stage, part_names = self._stage_data_dir(df, meta)
        return self.commit_staged(
            stage, part_names, mode, operation, branch, summary_extra, meta=meta
        )

    def overwrite_partitions(
        self, df: DataFrame, summary_extra: dict | None = None
    ) -> int:
        """Dynamic partition overwrite (Iceberg `INSERT OVERWRITE` with
        `spark.sql.sources.partitionOverwriteMode=dynamic`): replace
        EXACTLY the partitions present in the batch; every other
        partition's files stay byte-identical (time travel to the
        pre-overwrite snapshot still sees the replaced rows). This is the
        partition-scoped rewrite (`_rewrite_partitions`) with the batch's
        partitions as the touched set and the batch as the rows written:
        mask-file scoped above `write.cow.scope-cap`, a no-op commit for
        an empty batch. Unpartitioned tables degenerate to a full
        overwrite, Spark's own semantics for dynamic mode without
        partitions. Stale bases refuse with CommitConflict like every
        non-append commit."""
        meta = self._load()
        if meta["partition_by"]:
            df = df.localCheckpoint(eager=True)  # written + partition-scanned
        return self._rewrite_partitions(
            meta,
            self._scan_head(meta),
            lambda cols: df.select(*cols),
            lambda _rows: df,
            "dynamic-overwrite",
            {"mode": "dynamic-partition-overwrite"},
            summary_extra,
            count_key="replaced_partitions",
        )

    def _overwrite(
        self, meta: dict, df: DataFrame, operation: str, summary_extra: dict | None = None
    ) -> int:
        """Full overwrite of main committed against `meta`, the state
        `df` was read from: if the table moved since, the commit refuses
        with CommitConflict (`commit_staged`) instead of replacing rows
        it never read."""
        stage, part_names = self._stage_data_dir(df, meta)
        return self.commit_staged(
            stage, part_names, "overwrite", operation, summary_extra=summary_extra, meta=meta
        )

    _PA_SPARK_TYPES = {
        "int64": "bigint",
        "int32": "int",
        "int16": "smallint",
        "int8": "tinyint",
        "string": "string",
        "large_string": "string",
        "double": "double",
        "float": "float",
        "bool": "boolean",
        "date32[day]": "date",
        "binary": "binary",
        "large_binary": "binary",
        # parquet timestamp semantics: isAdjustedToUTC=true surfaces in
        # arrow as a tz-annotated type (what Spark's TIMESTAMP writes
        # under outputTimestampType=TIMESTAMP_MICROS); no tz annotation
        # means NTZ (Spark's TIMESTAMP_NTZ). Legacy INT96 footers decode
        # as tz-less nanos in arrow though they are semantically TZ, so
        # bare 'timestamp[ns]' is deliberately UNMAPPED (name-only check)
        # rather than mis-asserted either way.
        "timestamp[us]": "timestamp_ntz",
        "timestamp[us, tz=UTC]": "timestamp",
        "timestamp[ns, tz=UTC]": "timestamp",
    }

    def add_files(self, source_dir: str, check_schema: bool = True) -> int:
        """Iceberg's `add_files` procedure (and the `migrate` bootstrap
        path): register PRE-EXISTING parquet files into the table as one
        append snapshot — footer-derived manifest entries, ZERO data
        rewrite. This is the realistic 100 TB bootstrap: the reference's
        first bronze run overwrites existing files into a table
        (`raw-bronze.py:178-183`); at scale you import them in place.

        Files are HARD-LINKED from `source_dir` into the table's own
        `data/s{sid}` layout (same bytes, same blocks — a link is an
        inode ref, not a copy; cross-filesystem sources fall back to a
        copy). Linking, rather than referencing foreign paths in the
        manifest, keeps every table invariant intact: scans, partition
        masks, compaction and `expire_snapshots` (which deletes table
        dirs — unlinking never touches the source's own reference).

        A partitioned table requires the source to be hive-laid-out on
        EXACTLY the table's identity partition columns (Iceberg's
        `add_files` contract for hive sources); non-identity transforms
        can't be derived from existing files without reading them — use
        `write()` for those. Footer schemas are validated against the
        table schema (minus identity partition columns, which hive layout
        strips) so a mis-schema'd import fails loudly instead of
        null-filling at read time. Commits through the same staged-append
        protocol as every writer (retry/rebase on conflict)."""
        import shutil as _shutil

        import pyarrow.parquet as pq

        meta = self._load()
        fields = self._part_fields(meta)
        if any(f.transform != "identity" for f in fields):
            raise ValueError(
                "add_files requires identity partitioning — transformed "
                "partition values can't be derived from existing files "
                "without a rewrite; use write() instead"
            )
        part_names = [f.name for f in fields]
        schema = T.StructType.fromDDL(meta["schema"])
        expect = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name not in set(part_names)
        }
        src_root = os.path.abspath(source_dir)
        stage = os.path.join(self.root, f"data/.stage-{uuid.uuid4().hex[:12]}")
        found = 0
        try:
            for dirpath, _dirs, fns in os.walk(src_root):
                for fn in sorted(fns):
                    if not fn.endswith(".parquet"):
                        continue
                    fp = os.path.join(dirpath, fn)
                    relp = os.path.relpath(fp, src_root)
                    segs = [s for s in os.path.dirname(relp).split(os.sep) if s]
                    seg_cols = [s.split("=", 1)[0] for s in segs if "=" in s]
                    if seg_cols != part_names:
                        raise ValueError(
                            f"{relp}: source layout partitions {seg_cols} do "
                            f"not match the table's identity partition "
                            f"columns {part_names}"
                        )
                    if check_schema:
                        pa_schema = pq.read_schema(fp)
                        got = {
                            n: self._PA_SPARK_TYPES.get(
                                str(pa_schema.field(n).type)
                            )
                            for n in pa_schema.names
                        }
                        # names must match exactly; types are checked for
                        # every arrow type with a known Spark mapping
                        # (unknown/nested types defer to read-time checks)
                        mismatch = set(got) ^ set(expect)
                        mismatch |= {
                            n
                            for n in set(got) & set(expect)
                            if got[n] is not None and got[n] != expect[n]
                        }
                        if mismatch:
                            raise ValueError(
                                f"{relp}: footer schema {sorted(got.items())} "
                                f"does not match table columns "
                                f"{sorted(expect.items())} (mismatch: "
                                f"{sorted(mismatch)})"
                            )
                    dst = os.path.join(stage, relp)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    try:
                        os.link(fp, dst)  # zero-copy: same inode
                    except OSError:
                        _shutil.copy2(fp, dst)  # cross-device fallback
                    found += 1
        except Exception:
            _shutil.rmtree(stage, ignore_errors=True)
            raise
        if not found:
            _shutil.rmtree(stage, ignore_errors=True)
            raise ValueError(f"no parquet files under {src_root}")
        return self.commit_staged(
            stage,
            part_names,
            mode="append",
            operation="add-files",
            summary_extra={"added-files-source": src_root},
            meta=meta,
        )

    def commit_staged(
        self,
        stage: str,
        part_names: list[str],
        mode: str = "append",
        operation: str | None = None,
        branch: str = "main",
        summary_extra: dict | None = None,
        meta: dict | None = None,
    ) -> int:
        """Publish an already-staged data dir (hive-layout parquet under a
        unique `data/.stage-*` path) and commit it — the write() retry/
        rebase loop, with the heavy Spark write factored out so non-Spark
        writers (the DSv2 format's pyarrow executors, `sources/dsv2.py`)
        share the exact commit protocol. Spark-free: safe to call from the
        data-source driver worker, which has no SparkSession."""
        import shutil as _shutil

        if meta is None:
            meta = self._load()
        if mode == "overwrite_dynamic" and not part_names:
            mode = "overwrite"  # unpartitioned: dynamic degenerates to full
        sid = self._next_sid(meta)
        published = False
        rel = parts = files = None
        # the budget is time, not tries: under host load concurrent
        # appends can lose more races in a row than any fixed count allows
        deadline = time.time() + _LOCK_WAIT_S
        while True:
            rel = f"data/s{sid}"
            out = os.path.join(self.root, rel)
            try:
                if not published:
                    self._publish_dir(stage, out)
                    published = True
                    parts = self._list_partitions(out, part_names)
                    files = self._file_stats(rel)
                    if mode == "overwrite_dynamic":
                        # Spark-free path (DSv2 format writer): partitions
                        # come from the dir listing as inline exclusion
                        # tuples, so the metadata-size cap is a hard bound
                        # here — the native overwrite_partitions() method
                        # switches to a mask FILE above it instead
                        cap = int(meta.get("properties", {}).get(
                            "write.cow.scope-cap", 10000))
                        if len(parts) > cap:
                            _shutil.rmtree(out, ignore_errors=True)
                            raise ValueError(
                                f"dynamic overwrite touches {len(parts)} "
                                f"partitions (> write.cow.scope-cap {cap}); "
                                "use SnapshotTable.overwrite_partitions "
                                "(mask-file scoped) or split the batch"
                            )
                return self._commit_write(
                    meta, rel, parts, files, mode, operation, branch,
                    summary_extra,
                )
            except CommitConflict:
                if published and mode != "append":
                    # non-append content computed against a stale state:
                    # refuse; withdraw the uncommitted dir
                    _shutil.rmtree(out, ignore_errors=True)
                    raise
                if time.time() > deadline:
                    break
                time.sleep(0.01)
                meta = self._load()
                new_sid = self._next_sid(meta)
                if not published:
                    if new_sid != sid:
                        if mode != "append":
                            _shutil.rmtree(stage, ignore_errors=True)
                            raise  # metadata advanced since this op loaded it
                        sid = new_sid  # publish under the fresh id next pass
                        continue
                    # data/s{sid} exists yet metadata hasn't advanced: either
                    # a crashed writer's orphan (stale → remove) or a LIVE
                    # writer between its publish and commit (fresh → let it
                    # finish and rebase on the next pass)
                    try:
                        stale = time.time() - os.path.getmtime(out) > _LOCK_STALE_S
                    except OSError:
                        continue  # vanished: their commit landed or aborted
                    if stale:
                        _shutil.rmtree(out, ignore_errors=True)
                    else:
                        time.sleep(0.05)
                    continue
                if new_sid != sid:
                    try:
                        files = self._move_dir(rel, f"data/s{new_sid}", files)
                    except CommitConflict:
                        time.sleep(0.05)  # in-flight writer on that id too
                        continue
                    sid = new_sid
                # else: commit_seq moved without a new snapshot (property /
                # ref change): plain retry against the fresh metadata
        if not published:
            _shutil.rmtree(stage, ignore_errors=True)
        raise CommitConflict(
            f"append to {self.root} lost the commit race for {_LOCK_WAIT_S:.0f}s"
        )

    def _commit_write(
        self,
        meta: dict,
        rel: str,
        parts: list,
        files: list,
        mode: str,
        operation: str | None,
        branch: str,
        summary_extra: dict | None,
    ) -> int:
        """Commit the published data dir `rel` (named after
        `_next_sid(meta)`) as an append, a full overwrite or a dynamic
        partition overwrite on `branch`."""
        summary = dict(summary_extra or {})
        if mode == "append":
            # delete files keep applying to older dirs; appended rows carry
            # a higher sid than every existing delete file, so they are
            # never suppressed — plain-append semantics preserved
            fields = {}
        elif mode == "overwrite_dynamic":
            # dynamic partition overwrite (Iceberg INSERT OVERWRITE with
            # partitionOverwriteMode=dynamic): replace EXACTLY the
            # partitions present in the new dir, via the same inline
            # partition-exclusion entries COW merges write; untouched
            # partitions' files stay byte-identical. Delete files carry
            # over — they apply by sid to surviving older dirs only.
            active = self._mask_active_dirs(
                self._ref_head(meta, branch), meta["snapshots"], parts, None
            )
            if files:  # an empty batch replaces nothing: no-op commit
                active.append(rel)
            fields = {"active_dirs": active}
            operation = operation or "dynamic-overwrite"
            summary = dict(
                {"mode": "dynamic-partition-overwrite",
                 "replaced_partitions": len(parts)},
                **summary,
            )
        else:
            fields = {"active_dirs": [rel], "active_deletes": []}
        return self._commit_snapshot(
            meta, operation or mode, summary, branch=branch,
            dirs=[rel], partitions=parts, files=files, **fields,
        )

    # -- branch lifecycle --------------------------------------------------
    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Named MUTABLE ref (Iceberg `CREATE BRANCH`): starts at `main`'s
        head (or an explicit snapshot) and advances independently via
        `write(..., branch=name)`."""
        meta = self._load()
        if name == "main":
            raise ValueError("main already exists")
        refs = meta.get("branches", {})
        if name in refs:
            raise ValueError(f"branch {name} already exists")
        if snapshot_id is None:
            head = self._head(meta)
            if head is None:
                raise ValueError("cannot branch an empty table")
            snapshot_id = head["snapshot_id"]
        elif not any(s["snapshot_id"] == snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        main_head = self._head(meta)
        self._advance(
            meta, name, snapshot_id, main_head["snapshot_id"] if main_head else None
        )
        self._commit(meta)
        return snapshot_id

    def branches(self) -> dict[str, int]:
        """Every branch ref, `main` included (implicit-main resolved)."""
        meta = self._load()
        out = dict(meta.get("branches", {}))
        if "main" not in out:
            head = self._head(meta)
            if head is not None:
                out["main"] = head["snapshot_id"]
        return out

    def _adopt_stream_stamps(self, meta: dict, published: list[dict]) -> None:
        """Publication-time replay-guard adoption (review r14): a batch
        staged to a branch stamps main's guard only when its data reaches
        main — at fast_forward time, from the published snapshots'
        summaries (a cherry-pick copies the stamp into its own summary,
        which `_commit_snapshot` folds in). Without it, a published WAP
        batch would replay as duplicates: main's lookup reads only the
        property."""
        for s in published:
            self._stamp_stream_guard(meta, s.get("summary"))

    def fast_forward(self, branch: str, to: str = "main") -> int:
        """Publish step of write-audit-publish (Iceberg
        `fast_forward('main', 'audit')`): move `to` up to `branch`'s head.
        Requires `to`'s head to be an ancestor of `branch`'s head — a
        fast-forward, never a merge."""
        meta = self._load()
        src = self._head(meta, branch)
        dst = self._head(meta, to)
        if src is None:
            raise ValueError(f"branch {branch!r} is empty")
        if dst is not None:
            ancestors = {s["snapshot_id"] for s in self._lineage(meta, src["snapshot_id"])}
            if dst["snapshot_id"] not in ancestors:
                raise ValueError(
                    f"{to!r} head {dst['snapshot_id']} is not an ancestor of "
                    f"{branch!r} head {src['snapshot_id']} — not a fast-forward"
                )
        if to == "main":
            dst_ids = (
                {s["snapshot_id"] for s in self._lineage(meta, dst["snapshot_id"])}
                if dst else set()
            )
            self._adopt_stream_stamps(
                meta,
                [s for s in self._lineage(meta, src["snapshot_id"])
                 if s["snapshot_id"] not in dst_ids],
            )
        self._advance(
            meta, to, src["snapshot_id"], dst["snapshot_id"] if dst else None
        )
        self._commit(meta)
        return src["snapshot_id"]

    def cherry_pick_snapshot(self, snapshot_id: int) -> int:
        """Iceberg `CALL system.cherrypick_snapshot`: re-apply a staged
        snapshot's changes on top of the CURRENT main head as a new
        commit — the write-audit-publish path when main has advanced past
        the staging point (`fast_forward` refuses divergence; cherry-pick
        rebases). Restricted to plain-append snapshots (Iceberg limits
        cherry-pick to appends/dynamic overwrites): an append's whole
        contribution is its own new dirs, so re-basing is just adding
        them to the head's active set. Refused when the head carries MOR
        delete files newer than the staged commit — in this layout a data
        dir keeps its original commit id, so such a delete file would
        retroactively apply to the cherry-picked rows (Iceberg instead
        re-sequences the incoming files; refusing is the honest
        equivalent)."""
        meta = self._load()
        snaps = meta["snapshots"]
        src = next((s for s in snaps if s["snapshot_id"] == snapshot_id), None)
        if src is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        if src["operation"] not in ("append", "create"):
            raise ValueError(
                f"only append snapshots can be cherry-picked; "
                f"{snapshot_id} is {src['operation']!r}"
            )
        head = self._head(meta)
        if head is None:
            raise ValueError("empty table")
        if snapshot_id in {
            s["snapshot_id"] for s in self._lineage(meta, head["snapshot_id"])
        }:
            # Iceberg refuses cherry-picking a snapshot already published in
            # the current history: re-adding its dirs would RESURRECT rows a
            # later COW rewrite removed from the active set (the dirs check
            # below can't see that — COW masks/drops dirs without delete
            # files). Cherry-pick is for STAGED (branch) snapshots only.
            raise ValueError(
                f"snapshot {snapshot_id} is an ancestor of the current main "
                f"head {head['snapshot_id']} — cherry-pick re-applies staged "
                f"snapshots, not published history (use rollback instead)"
            )
        head_dirs = {_entry_rel(e) for e in head["active_dirs"]}
        incoming = [d for d in src["dirs"] if d not in head_dirs]
        if not incoming:
            raise ValueError(
                f"snapshot {snapshot_id} is already applied on main"
            )
        newer_deletes = [
            d for d in head.get("active_deletes", []) if d["sid"] > snapshot_id
        ]
        if newer_deletes:
            raise ValueError(
                f"cannot cherry-pick {snapshot_id}: main carries delete "
                f"files from later commits "
                f"({[d['sid'] for d in newer_deletes]}) that would "
                f"retroactively apply to the incoming rows"
            )
        # carry the staged commit's streaming stamp into the published
        # summary; the commit folds it into the guard property — the
        # publish half of the branch-write stamp skip (see
        # _adopt_stream_stamps)
        summary = {"cherry_picked_from": snapshot_id}
        for k in (_BATCH_ID, _QUERY_SCOPE):
            if k in src.get("summary", {}):
                summary[k] = src["summary"][k]
        return self._commit_snapshot(
            meta,
            "cherrypick",
            summary,
            # no dirs/files of its own: the incoming dirs stay
            # manifest-owned by the source snapshot (like Iceberg,
            # where cherry-pick reuses the staged manifests)
            active_dirs=list(head["active_dirs"]) + incoming,
            partitions=[],
            files=[],
        )

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Move `main` back to an ancestor snapshot (Iceberg
        `rollback_to_snapshot`): metadata-only; later snapshots stay
        retained (and expirable) but leave the current lineage — the next
        write forks from the rollback point."""
        meta = self._load()
        head = self._head(meta)
        if head is None:
            raise ValueError("empty table")
        ancestors = {s["snapshot_id"] for s in self._lineage(meta, head["snapshot_id"])}
        if snapshot_id not in ancestors:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of main head "
                f"{head['snapshot_id']}"
            )
        self._advance(meta, "main", snapshot_id, None)
        if "branches" not in meta:
            meta["branches"] = {"main": snapshot_id}
        self._commit(meta)
        return snapshot_id

    def drop_branch(self, name: str) -> None:
        """Remove a branch ref (its snapshots become expirable)."""
        meta = self._load()
        if name == "main":
            raise ValueError("cannot drop main")
        refs = meta.get("branches", {})
        if name not in refs:
            raise ValueError(f"unknown branch {name!r}")
        del refs[name]
        self._commit(meta)

    # -- schema evolution (Iceberg `ALTER TABLE ... ADD/DROP COLUMN`) ------
    def evolve_schema(
        self, add: dict[str, str] | None = None, drop: list[str] | None = None
    ) -> int:
        """Additive/subtractive schema evolution as a METADATA-ONLY commit —
        no data rewrite, exactly like Iceberg. Old files read added columns
        as NULL (explicit read schema projects them in); dropped columns
        vanish from every scan without touching parquet. Renames are NOT
        supported: this stand-in maps columns by name, not Iceberg field
        ids, so a rename cannot be matched to old data — documented
        limitation. Time travel reads each snapshot with the schema current
        AT that snapshot."""
        meta = self._load()
        fields = list(T.StructType.fromDDL(meta["schema"]).fields)
        names = {f.name for f in fields}
        for name, dtype in (add or {}).items():
            if name in names:
                raise ValueError(f"column {name} already exists")
            fields.append(T.StructType.fromDDL(f"`{name}` {dtype}").fields[0])
            names.add(name)  # adds are visible to the drop validation below
        for name in drop or []:
            if name not in names:
                raise ValueError(f"column {name} does not exist")
            names.discard(name)
            if any(f.source == name for f in self._part_fields(meta)):
                raise ValueError(f"cannot drop partition source column {name}")
            fields = [f for f in fields if f.name != name]
        new_ddl = T.StructType(fields).simpleString()[len("struct<") : -1]
        summary = {"schema": new_ddl, "prev_schema": meta["schema"]}
        meta["schema"] = new_ddl
        # dropped columns take their statistics with them (a later
        # re-added column of the same name must not inherit stale stats)
        props = meta.get("properties") or {}
        dropped_stats = [f"stats.{name}" for name in (drop or []) if f"stats.{name}" in props]
        if dropped_stats:
            for key in dropped_stats:
                props.pop(key)
            meta["properties"] = props
        return self._commit_snapshot(meta, "evolve-schema", summary)

    def rename_column(self, old: str, new: str) -> int:
        """Iceberg `ALTER TABLE ... RENAME COLUMN` as a METADATA-ONLY
        commit. Iceberg resolves renames through field ids; this layer
        records the rename in the commit log and every read maps each
        dir's columns through the renames committed after it was written
        (`_read_entries`), so old files answer to the new name with zero
        rewrite — including across chained renames. Restrictions, checked
        here: partition SOURCE columns can't be renamed (directory names
        embed them), and active equality-delete files keyed on the column
        must be compacted away first (their parquet stores the old name)."""
        meta = self._load()
        fields = list(T.StructType.fromDDL(meta["schema"]).fields)
        names = [f.name for f in fields]
        if old not in names:
            raise ValueError(f"column {old!r} does not exist")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if not re.match(r"^\w+$", new):
            raise ValueError(f"invalid column name {new!r}")
        if any(f.source == old or f.name == old for f in self._part_fields(meta)):
            raise ValueError(f"cannot rename partition source column {old!r}")
        head = self._head(meta)
        if head:
            for d in head.get("active_deletes", []):
                if old in d.get("keys", []):
                    raise ValueError(
                        f"column {old!r} keys an active equality-delete file — "
                        "run compact() before renaming"
                    )
        new_fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in fields
        ]
        new_ddl = T.StructType(new_fields).simpleString()[len("struct<") : -1]
        summary = {
            "schema": new_ddl,
            "prev_schema": meta["schema"],
            "renamed": {"from": old, "to": new},
        }
        meta["schema"] = new_ddl
        # column statistics follow the rename (Iceberg stats are keyed by
        # field id, which a rename preserves — the name-keyed property
        # must move with the column or the stats silently orphan)
        props = meta.get("properties") or {}
        if f"stats.{old}" in props:
            props[f"stats.{new}"] = props.pop(f"stats.{old}")
            meta["properties"] = props
        # the declared write order follows the rename too — it is keyed
        # by name in the property, and leaving the old name would silently
        # erase the effective (and emitted) sort order
        so = props.get("write.sort-order")
        if so:
            cols = [c.strip() for c in so.split(",") if c.strip()]
            if old in cols:
                props["write.sort-order"] = ", ".join(
                    new if c == old else c for c in cols
                )
                meta["properties"] = props
        return self._commit_snapshot(meta, "evolve-schema", summary)

    # -- partition-spec evolution (Iceberg `ALTER TABLE ... ADD/DROP
    # PARTITION FIELD`) ----------------------------------------------------
    def evolve_partition_spec(self, partition_by: list[str]) -> int:
        """Change the partition layout for FUTURE writes as a
        METADATA-ONLY commit — no data rewrite, exactly like Iceberg spec
        evolution. Old snapshot dirs keep their layout: the reader groups
        dirs by the partition layout their manifest records, one relation
        per layout, so partition columns resolve per dir regardless of
        spec, and partition-scoped COW masks remain row-correct on
        old-layout dirs (the exclusion predicate compares column VALUES —
        it simply isn't prune-accelerated there). Each data dir's spec is
        whatever `partition_by` said when it was written;
        `partitions_table` reports the mixed layouts as distinct partition
        strings, like Iceberg's partitions table across specs."""
        meta = self._load()
        cols = {f.name for f in T.StructType.fromDDL(meta["schema"]).fields}
        for f in parse_spec(partition_by):
            if f.source not in cols:
                raise ValueError(f"unknown partition column {f.source}")
        summary = {
            "partition_by": list(partition_by),
            "prev_partition_by": meta["partition_by"],
        }
        meta["partition_by"] = list(partition_by)
        return self._commit_snapshot(meta, "evolve-partition", summary)

    # -- reads -------------------------------------------------------------
    @staticmethod
    def _partition_match_expr(tuples: list, fields: list[PartitionField], schema):
        """Column expression over DATA rows: row's partition tuple ∈
        `tuples` (null-safe, string-form values — Spark casts the literal
        to the expression type). Transformed fields re-derive the
        partition value from the source column (`field_expr`), so the
        predicate is correct on any dir regardless of which spec it was
        written under; identity fields compare the column directly (and
        partition-prune, since the column IS the directory key)."""
        by_name = {f.name: f for f in fields}
        ors = None
        for t in tuples:
            ands = None
            for col, val in t.items():
                f = by_name.get(col)
                lhs = field_expr(f, schema) if f is not None else F.col(col)
                e = lhs.eqNullSafe(F.lit(val))
                ands = e if ands is None else (ands & e)
            ors = ands if ors is None else (ors | ands)
        return ors

    @staticmethod
    def _mask_join(df: DataFrame, mdf: DataFrame, fields, schema, how: str) -> DataFrame:
        """Join-based partition mask: keep rows of `df` whose DERIVED
        partition tuple appears in `mdf` (`left_semi`) or does not
        (`left_anti`). The scale-safe replacement for the OR-predicate
        form above the COW scope cap — a 65k-partition mask becomes one
        equi-ish join AQE can broadcast, not a 65k-disjunct Catalyst
        expression. Null-safe like `_partition_match_expr`."""
        by_name = {f.name: f for f in fields}
        m = mdf.select(*[F.col(c).alias(f"__mask_{c}") for c in mdf.columns])
        cond = None
        for c in mdf.columns:
            f = by_name.get(c)
            lhs = field_expr(f, schema) if f is not None else F.col(c)
            e = lhs.eqNullSafe(F.col(f"__mask_{c}"))
            cond = e if cond is None else (cond & e)
        return df.join(m, cond, how)

    def _all_part_fields(self, meta: dict) -> list[PartitionField]:
        """Partition fields of the CURRENT spec plus every spec this table
        has ever had (evolve-partition commits record both sides), deduped
        by field name — exclusion masks written under an old spec must
        still resolve after evolution."""
        specs: list[str] = list(meta["partition_by"])
        for s in meta.get("snapshots", []):
            summ = s.get("summary", {})
            if s.get("operation") == "evolve-partition":
                specs += summ.get("partition_by", []) + summ.get("prev_partition_by", [])
        out: dict[str, PartitionField] = {}
        from .partitioning import parse_field

        for s in dict.fromkeys(specs):
            f = parse_field(s)
            out.setdefault(f.name, f)
        return list(out.values())

    def _rel_path_expr(self):
        """Column: a data row's file path relative to the table root,
        derived from the parquet `_metadata` column (scheme-independent).
        (rel_path, row_index) is the positional-delete row identity."""
        root = os.path.abspath(self.root)
        # `_metadata.file_path` is a URI: strip the scheme ('file:',
        # 'file://') down to the plain path and percent-decode it (a
        # literal '+' is kept — URI paths leave it unencoded, while the
        # decoder would read it as a space), then drop '<root>/'
        plain = (
            "url_decode(replace(regexp_replace(_metadata.file_path,"
            " '^[a-zA-Z0-9]+:/+', '/'), '+', '%2B'))"
        )
        return F.expr(f"substring({plain}, {len(root) + 2})")

    @staticmethod
    def _renames(meta: dict) -> list[tuple[int, str, str]]:
        """(snapshot_id, old, new) for every rename commit, ascending."""
        out = []
        for s in meta.get("snapshots", []):
            r = s.get("summary", {}).get("renamed")
            if r:
                out.append((s["snapshot_id"], r["from"], r["to"]))
        return out

    @staticmethod
    def _births(meta: dict, as_of: int | None = None) -> dict[str, int]:
        """Column name (as of `as_of`; None = head) -> the snapshot id at
        which that LOGICAL column was (re)created. Iceberg reads columns
        by field id, so a column dropped and later re-added under the
        same name is a DIFFERENT column — files from its previous life
        must read NULL, not resurrect the dead column's values. This
        name-mapped layer gets the same semantics by walking the
        evolve-schema log: adds set the birth, renames carry it, drops
        delete it (so a re-add gets the re-add's snapshot id)."""
        evolves = [
            s
            for s in meta.get("snapshots", [])
            if s.get("operation") == "evolve-schema"
            and (as_of is None or s["snapshot_id"] <= as_of)
        ]
        first_schema = (
            evolves[0]["summary"]["prev_schema"] if evolves else meta["schema"]
        )
        births = {n: 0 for n in _ddl_names(first_schema)}
        for s in evolves:
            sid = s["snapshot_id"]
            summ = s.get("summary", {})
            r = summ.get("renamed")
            if r:
                births[r["to"]] = births.pop(r["from"], 0)
                continue
            prev = set(_ddl_names(summ["prev_schema"]))
            cur = set(_ddl_names(summ["schema"]))
            for n in cur - prev:
                births[n] = sid
            for n in prev - cur:
                births.pop(n, None)
        return births

    @staticmethod
    def _name_at(renames: list, dir_sid: int, name: str, as_of: int | None) -> str:
        """The name column `name` (as of snapshot `as_of`; None = head) had
        when dir `dir_sid` was written: unwind renames committed in
        (dir_sid, as_of], newest first (handles chains a→b→c)."""
        for rsid, old, new in reversed(renames):
            if rsid <= dir_sid or (as_of is not None and rsid > as_of):
                continue
            if name == new:
                name = old
        return name

    def _read_entries(
        self,
        meta: dict,
        entries: list,
        schema: T.StructType | None = None,
        with_sid: bool = False,
        with_pos: bool = False,
        as_of: int | None = None,
        files: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """The one data reader: the rows of the active-dir `entries` of
        `meta`, in `schema` (default: the table's). Dirs that share one
        read mapping — each column's historical name (renames) or its
        NULL read (`_births`), the partition directory layout they were
        written with, and the same exclusion list and mask files — are
        ONE parquet relation over all their dirs (`_read_files` with
        `data/` as the partition base), so Spark plans a table state's
        files together instead of one relation per dir; normally a table
        has one such group. Partition columns resolve from the directory
        names as before, so a filter on an identity-partition column
        stays a partition filter. `with_sid` adds `__sid`, the snapshot
        id of the row's dir (`_data_sid_expr`; a path expression, so the
        MOR anti-join's delete side stays one shared relation), and
        `with_pos` adds (__rel, __pos) — the row's physical identity for
        positional deletes. Dict entries carry partition-exclusion masks
        (partitions rewritten by a later partition-scoped merge). `as_of`
        bounds the rename/birth mapping for time-travel reads (Iceberg
        reads by field id; this layer by the per-snapshot name mapping).
        `files` narrows each dir to planned files (dir rel -> root-
        relative file paths; `scan_pruned`)."""
        schema = schema or T.StructType.fromDDL(meta["schema"])
        if files is not None:
            entries = [e for e in entries if _entry_rel(e) in files]
        if not entries:
            df = self.spark.createDataFrame([], schema)
            if with_sid:
                df = df.withColumn("__sid", F.lit(None).cast("long"))
            if with_pos:
                df = df.withColumn("__rel", F.lit("").cast("string")).withColumn(
                    "__pos", F.lit(0).cast("long")
                )
            return df
        all_fields = self._all_part_fields(meta)
        renames = self._renames(meta)
        births = self._births(meta, as_of)
        by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}
        groups: dict[tuple, list] = {}
        for e in entries:
            rel = _entry_rel(e)
            dsid = _dir_sid(rel)
            # per column: the name the dir's files carry it under, or None
            # when the column was (re)created AFTER the dir was written —
            # it reads NULL even if the file holds a same-named column from
            # a previous drop/re-add life (Iceberg field-id semantics)
            mapping = tuple(
                None if births.get(f.name, 0) > dsid
                else self._name_at(renames, dsid, f.name, as_of)
                for f in schema.fields
            )
            # the partition columns of the dir's layout, as its manifest
            # recorded them from disk: one relation cannot mix layouts
            dfiles = self._dir_manifest(meta, by_sid, rel).get("files") or [{}]
            layout = tuple(dfiles[0].get("partition", {}))
            key = (mapping, layout, json.dumps(_entry_excl(e)), tuple(_entry_masks(e)))
            groups.setdefault(key, []).append(e)
        mask_dfs: dict[str, DataFrame] = {}  # a mask file applies to many groups
        rel_col = self._rel_path_expr()
        out = None
        for (mapping, *_), group in groups.items():
            excl, masks = _entry_excl(group[0]), _entry_masks(group[0])
            rels = [_entry_rel(e) for e in group]
            read_schema = T.StructType([
                T.StructField(hn, f.dataType, f.nullable)
                for f, hn in zip(schema.fields, mapping)
                if hn is not None
            ])
            # alias historical names back to the requested schema, and drop
            # the derived directory column hidden-partition dirs append
            sel = [
                (F.lit(None).cast(f.dataType) if hn is None else F.col(hn)).alias(f.name)
                for f, hn in zip(schema.fields, mapping)
            ]
            if with_sid:
                sel.append(_data_sid_expr(rel_col).alias("__sid"))
            if with_pos:
                sel += [rel_col.alias("__rel"), F.col("_metadata.row_index").alias("__pos")]
            paths = rels if files is None else [p for r in rels for p in files[r]]
            df = self._read_files(paths, read_schema, cols=sel, base="data")
            if excl:
                # exclusion re-derives partition values from data columns
                # (identity: the column itself → partition pruning drops
                # masked subtrees at planning time; transformed: the
                # transform expression, row-filtered)
                df = df.filter(~self._partition_match_expr(excl, all_fields, schema))
            for mrel in masks:
                # mask-FILE exclusion (capped COW): anti-join the group's
                # rows against the touched-partition parquet — no inline
                # list, no giant predicate, any cardinality
                if mrel not in mask_dfs:
                    mask_dfs[mrel] = self._read_files(
                        [mrel], self._mask_schema(meta, mrel)
                    )
                df = self._mask_join(
                    df, mask_dfs[mrel], all_fields, schema, "left_anti"
                )
            out = df if out is None else out.unionByName(df)
        return out

    def _read_files(
        self, rels: list[str], schema: T.StructType, cols: list | None = None,
        base: str | None = None,
    ) -> DataFrame:
        """One relation over engine-written dirs or files, read with the
        schema metadata records for them — never an inferring read
        (parquet schema inference is one Spark job per read). `base` (a
        root-relative dir, `data` for data reads) is the partition
        discovery base: the `key=value` dirs below each `s<id>` dir
        resolve as partition columns, and the `s<id>` segments
        themselves — not `key=value` — are passed over
        (`ignoreInvalidPartitionPaths`) instead of failing the read as
        conflicting directory structures; callers keep one partition
        layout per relation. `cols` projects each scan before the union:
        the hidden `_metadata` column (file path, row index) resolves
        only directly over a file relation. Spark lists more paths than
        `parallelPartitionDiscovery.threshold` with a Spark job, so a
        longer list is read as a union of scans of at most that many
        paths — still one relation to the plan above."""
        n = int(
            self.spark.conf.get(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"
            )
        )
        paths = [os.path.join(self.root, r) for r in rels]
        reader = self.spark.read.schema(schema)
        if base is not None:
            reader = reader.option("basePath", os.path.join(self.root, base)).option(
                "ignoreInvalidPartitionPaths", "true"
            )
        out = None
        for i in range(0, len(paths), n):
            one = reader.parquet(*paths[i : i + n])
            if cols:
                one = one.select(*cols)
            out = one if out is None else out.unionByName(one)
        return out

    @staticmethod
    def _ddl_at(meta: dict, snapshot_id: int) -> str:
        """Schema DDL current AS OF `snapshot_id`: the earliest later
        evolve-schema commit recorded what the schema was before it."""
        for s in meta["snapshots"]:
            if s["snapshot_id"] > snapshot_id and s["operation"] == "evolve-schema":
                return s["summary"]["prev_schema"]
        return meta["schema"]

    @staticmethod
    def _spec_at(meta: dict, snapshot_id: int) -> list[str]:
        """Partition spec current AS OF `snapshot_id` (same walk as
        `_ddl_at`, over evolve-partition commits)."""
        for s in meta["snapshots"]:
            if s["snapshot_id"] > snapshot_id and s["operation"] == "evolve-partition":
                return s["summary"]["prev_partition_by"]
        return meta["partition_by"]

    @staticmethod
    def _key_schema(ddl: str, keys) -> T.StructType:
        """Columns of an equality-delete file: its key fields, typed as
        in `ddl`, the schema current when the file's snapshot wrote it."""
        by_name = {f.name: f.dataType for f in T.StructType.fromDDL(ddl).fields}
        return T.StructType([T.StructField(k, by_name[k]) for k in keys])

    def _mask_schema(self, meta: dict, mrel: str) -> T.StructType:
        """Columns of mask file `mrel`: the partition tuple of the spec
        current when it was written, typed by each transform over that
        snapshot's schema (resolved on an empty frame — analysis only)."""
        msid = _dir_sid(mrel)
        schema = T.StructType.fromDDL(self._ddl_at(meta, msid))
        fields = parse_spec(self._spec_at(meta, msid))
        sel = [field_expr(f, schema).alias(f.name) for f in fields]
        derived = self.spark.createDataFrame([], schema).select(*sel).schema
        return T.StructType([T.StructField(f.name, f.dataType) for f in derived.fields])

    def _apply_deletes(
        self, meta: dict, df: DataFrame, deletes: list, keep_identity: bool = False
    ) -> DataFrame:
        """MOR read path: suppress any row whose key appears in a delete
        file COMMITTED AFTER the row's own snapshot (equality deletes with
        sequence-number semantics, like Iceberg v2). One anti-join per
        distinct key set (normally exactly one). Each key set's delete
        files are ONE relation read with the key schema metadata records
        (no inference job), `__del_sid` parsed from each file's path.
        The data side's `__sid` is a per-row path expression too, so the
        sid condition stays in the join: every data relation anti-joins
        the same delete relation and AQE broadcasts it once —
        the scan's job count does not grow with the table's history. The
        delete side is the accumulated merge keys — small relative to
        data and compacted away by `compact()`."""
        # positional deletes first: (file, row_index) pairs bind to physical
        # rows, no sequence-number condition needed (files are immutable
        # and later appends land in new files)
        pos_dels = [d for d in deletes if d.get("style") == "position"]
        if pos_dels:
            pairs = self._read_files(
                [d["file"] for d in pos_dels], _POS_DELETE_SCHEMA
            ).select(
                F.col("file_rel").alias("__del_rel"), F.col("pos").alias("__del_pos")
            )
            df = df.join(
                pairs,
                (F.col("__rel") == F.col("__del_rel"))
                & (F.col("__pos") == F.col("__del_pos")),
                "left_anti",
            )
        deletes = [d for d in deletes if d.get("style") != "position"]
        # one relation per key set (and key typing — only a drop and
        # re-add of a key column could split one); each schema version
        # is parsed once
        by_ddl: dict[tuple, list] = {}
        for d in deletes:
            by_ddl.setdefault(
                (tuple(d["keys"]), self._ddl_at(meta, d["sid"])), []
            ).append(d["file"])
        by_keys: dict[tuple, list] = {}
        for (keys, ddl), files in by_ddl.items():
            by_keys.setdefault((keys, self._key_schema(ddl, keys)), []).extend(files)
        for (keys, kschema), files in by_keys.items():
            dels = self._read_files(files, kschema, cols=[
                *[F.col(k).alias(f"__del_{k}") for k in keys],
                _file_sid_expr().alias("__del_sid"),
            ])
            cond = F.col("__del_sid") > F.col("__sid")
            for k in keys:
                cond = cond & (F.col(k) == F.col(f"__del_{k}"))
            df = df.join(dels, cond, "left_anti")
        if keep_identity:
            return df
        return df.drop("__sid", "__rel", "__pos")

    def _positional_preimages(
        self, meta: dict, prev_snap: dict | None, schema: T.StructType, drel: str
    ) -> DataFrame:
        """Full pre-image rows for a positional delete file: the prior
        snapshot's rows at the recorded (file_rel, pos) identities."""
        if prev_snap is None:
            return self.spark.createDataFrame([], schema)
        pairs = self._read_files([drel], _POS_DELETE_SCHEMA).select(
            F.col("file_rel").alias("__del_rel"), F.col("pos").alias("__del_pos")
        )
        df = self._scan_snapshot(meta, prev_snap, schema, as_of=None, positioned=True)
        matched = df.join(
            pairs,
            (F.col("__rel") == F.col("__del_rel"))
            & (F.col("__pos") == F.col("__del_pos")),
            "inner",  # identities are unique → no fan-out
        )
        return matched.select(*[f.name for f in schema.fields])

    _AS_OF_SNAP = object()  # sentinel: default the rename bound to the snapshot

    def _scan_snapshot(
        self, meta: dict, snap: dict | None, schema: T.StructType, as_of=_AS_OF_SNAP,
        positioned: bool = False, files: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Rows of snapshot `snap` of `meta`: its active dirs through
        `_read_entries`, minus its delete files. `positioned` keeps each
        row's physical identity (`__rel`, `__pos`): `selectExpr(
        *_POS_IDENTITY)` of the rows a positional delete removes is the
        content of its delete file. `files`: see `_read_entries`."""
        if as_of is self._AS_OF_SNAP:
            as_of = snap["snapshot_id"]
        entries, deletes = self._snapshot_state(snap)
        df = self._read_entries(
            meta,
            entries,
            schema=schema,
            with_sid=bool(deletes),
            with_pos=positioned or any(d.get("style") == "position" for d in deletes),
            as_of=as_of,
            files=files,
        )
        if deletes:
            df = self._apply_deletes(meta, df, deletes, keep_identity=positioned)
        return df

    def _scan_head(
        self, meta: dict, branch: str = "main", positioned: bool = False,
        files: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """`scan()` of the state `meta` records. Mutations build their
        target with it from the same `meta` they commit against, so an
        append that lands in between fails their CAS instead of being
        rewritten away. Iceberg's branch/tag schema rule: BRANCH reads use
        the TABLE's current schema (branches are writable — writes
        validate against the current schema, so reads must use it too or
        a branch write immediately followed by a branch read would not
        round-trip; found by the table-model fuzz, seed 8080, once
        add/drop ops interleaved between the fork and a branch write).
        TAGS and VERSION AS OF keep the snapshot's schema (`scan_at`).
        as_of=None applies the full rename log, exactly like a main scan
        — the per-dir historical-name mapping handles old dirs."""
        return self._scan_snapshot(
            meta, self._head(meta, branch), T.StructType.fromDDL(meta["schema"]), as_of=None,
            positioned=positioned, files=files,
        )

    def scan(self, branch: str = "main") -> DataFrame:
        """Full current-state scan (S5): active dirs minus exclusion masks,
        minus MOR delete keys. `branch` reads a staged ref's state
        (Iceberg `VERSION AS OF 'branch'` / branch_<name> read)."""
        return self._scan_head(self._load(), branch)

    def scan_incremental(self, start_snapshot_id: int | None, end_snapshot_id: int) -> DataFrame:
        """Rows appended in (start, end] — Iceberg incremental-read semantics
        (`bronze-silver.py:146-149`): appends only; raises on overwrite in
        range, as Iceberg does."""
        meta = self._load()
        return self._read_entries(
            meta, self._append_dirs(meta, start_snapshot_id or 0, end_snapshot_id)
        )

    def _append_dirs(self, meta: dict, lo: int, hi: int) -> list[str]:
        """The data dirs appended in (lo, hi]: the parent chain of `hi`
        (with branches, ids interleave across lineages and an id-range
        filter would leak sibling-branch commits into the read). Raises on
        a non-append commit in range and on a range that crosses expired
        snapshots (Iceberg errors on reads over expired snapshots)."""
        chain = self._lineage(meta, hi)
        if not chain or chain[0]["snapshot_id"] != hi:
            raise ValueError(f"unknown snapshot {hi}")
        rels: list[str] = []
        # a chain that ends before reaching `lo` (or, for lo=0, before the
        # root) crossed an expired ancestor
        reached_lo = lo == 0 and self._parent_id(chain[-1]) is None
        for s in chain:
            if s["snapshot_id"] <= lo:
                reached_lo = True
                break
            if not s["dirs"] and s["operation"] in ("evolve-schema", "evolve-partition"):
                continue  # metadata-only commit: nothing to read
            if s["operation"] not in ("append", "create"):
                raise ValueError(
                    f"incremental read over non-append snapshot "
                    f"{s['snapshot_id']} ({s['operation']})"
                )
            rels += s["dirs"]
        if not reached_lo:
            raise ValueError(f"incremental range ({lo}, {hi}] spans expired snapshots")
        return rels

    def changes(
        self,
        start_snapshot_id: int | None,
        end_snapshot_id: int,
        full_preimages: bool = False,
    ) -> DataFrame:
        """Changelog scan over (start, end] — the Iceberg
        `create_changelog_view` / `.changes` analogue: every logical row
        change with `_change_type` ('insert' | 'delete') and
        `_snapshot_id`. Appends emit their rows as inserts; MOR merges
        emit the new data dir as inserts (upserts) plus a pre-image
        delete row for every delete-file key that EXISTED in the previous
        snapshot's state — so an update appears as delete + insert and
        replaying the changelog in snapshot order reproduces the table
        (Iceberg's changelog update semantics), while brand-new keys
        (whose equality delete hit nothing) emit no delete. The existence
        check is a read-time keys-only semi-join against the prior
        snapshot — the merge itself stays O(batch). By default delete
        rows carry the key columns, others NULL — equality-delete
        pre-images, not full row images. With `full_preimages=True` the
        scan recovers COMPLETE pre-image rows instead, semi-joining the
        prior snapshot's state against the delete keys (Iceberg
        `create_changelog_view`'s compute-updates pass) — one extra
        keyed probe per delete commit at read time, which is what makes
        the changelog consumable by downstream incremental computation
        (retractions need the full old row, e.g. to subtract it from an
        aggregate). Positional deletes always carry full pre-images.
        Compaction and schema evolution are logical no-ops
        and emit nothing. COW merges raise: their rewritten dirs don't
        record which rows changed (same contract as the incremental
        scan's append-only rule)."""
        lo = start_snapshot_id or 0
        meta = self._load()
        schema = self.schema()
        cols = [f.name for f in schema.fields]

        def eq_preimages(dels: DataFrame, keys, prev_snap, sid: int) -> DataFrame:
            """Delete-frame for one equality-delete file: key-cols-only
            pre-images by default, full prior rows when requested."""
            if prev_snap is None:
                # first snapshot: nothing existed, the delete hit nothing
                pre = dels.limit(0).select(
                    *[
                        F.col(c) if c in keys else F.lit(None).cast(f.dataType).alias(c)
                        for c, f in zip(cols, schema.fields)
                    ]
                )
            elif full_preimages:
                prior = self._scan_snapshot(meta, prev_snap, schema)
                pre = prior.join(
                    dels.select(*keys).distinct(), list(keys), "left_semi"
                ).select(*cols)
            else:
                prior_keys = self._scan_snapshot(meta, prev_snap, schema).select(*keys)
                pre = dels.join(prior_keys, list(keys), "left_semi").select(
                    *[
                        F.col(c) if c in keys else F.lit(None).cast(f.dataType).alias(c)
                        for c, f in zip(cols, schema.fields)
                    ]
                )
            return pre.select(
                "*",
                F.lit("delete").alias("_change_type"),
                F.lit(sid).cast("long").alias("_snapshot_id"),
            )

        frames: list[DataFrame] = []
        # parent-chain walk (ascending), like scan_incremental: with
        # branches, sibling-lineage ids interleave in the global id space
        chain = self._lineage(meta, end_snapshot_id)
        if not chain or chain[0]["snapshot_id"] != end_snapshot_id:
            raise ValueError(f"unknown snapshot {end_snapshot_id}")
        chain.reverse()  # oldest → newest
        reached_lo = lo == 0 and self._parent_id(chain[0]) is None
        prev_snap: dict | None = None
        for s in chain:
            sid = s["snapshot_id"]
            if sid <= lo:
                reached_lo = True
                prev_snap = s
                continue
            op = s["operation"]
            if op in ("evolve-schema", "evolve-partition", "compact"):
                prev_snap = s
                continue  # metadata-only / physical-layout-only commits
            if op in ("append", "create"):
                df = self._read_entries(meta, s["dirs"], schema=schema)
            elif op == "delete" and s.get("delete_file"):
                # MOR row-level delete: pre-image delete rows only, no
                # inserts. Equality deletes carry the key columns (others
                # NULL); positional deletes carry FULL pre-images — the
                # (file, pos) identity resolves to the exact prior row.
                dentry = next(
                    d for d in s["active_deletes"] if d["sid"] == sid
                )
                if dentry.get("style") == "position":
                    pre = self._positional_preimages(
                        meta, prev_snap, schema, s["delete_file"]
                    )
                    frames.append(
                        pre.select(
                            "*",
                            F.lit("delete").alias("_change_type"),
                            F.lit(sid).cast("long").alias("_snapshot_id"),
                        )
                    )
                    prev_snap = s
                    continue
                keys = dentry["keys"]
                kschema = self._key_schema(self._ddl_at(meta, sid), keys)
                dels = self._read_files([s["delete_file"]], kschema)
                frames.append(eq_preimages(dels, keys, prev_snap, sid))
                prev_snap = s
                continue
            elif op == "merge" and s.get("delete_file"):
                df = self._read_entries(meta, s["dirs"], schema=schema)
                dentry = next(
                    d for d in s["active_deletes"] if d["sid"] == sid
                )
                if dentry.get("style") == "position":
                    pre = self._positional_preimages(
                        meta, prev_snap, schema, s["delete_file"]
                    )
                    frames.append(
                        pre.select(
                            "*",
                            F.lit("delete").alias("_change_type"),
                            F.lit(sid).cast("long").alias("_snapshot_id"),
                        )
                    )
                    frames.append(
                        df.select(
                            "*",
                            F.lit("insert").alias("_change_type"),
                            F.lit(sid).cast("long").alias("_snapshot_id"),
                        )
                    )
                    prev_snap = s
                    continue
                keys = dentry["keys"]
                kschema = self._key_schema(self._ddl_at(meta, sid), keys)
                dels = self._read_files([s["delete_file"]], kschema)
                frames.append(eq_preimages(dels, keys, prev_snap, sid))
            else:
                raise ValueError(
                    f"changelog over non-append/MOR snapshot {sid} ({op})"
                )
            frames.append(
                df.select(
                    "*",
                    F.lit("insert").alias("_change_type"),
                    F.lit(sid).cast("long").alias("_snapshot_id"),
                )
            )
            prev_snap = s
        if not reached_lo:
            raise ValueError(
                f"changelog range ({lo}, {end_snapshot_id}] spans expired snapshots"
            )
        if not frames:
            empty = T.StructType(
                schema.fields
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_snapshot_id", T.LongType()),
                ]
            )
            return self.spark.createDataFrame([], empty)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def history(self) -> DataFrame:
        """Metadata table (S7, `<table>.history`): snapshot_id,
        made_current_at (TIMESTAMP, like Iceberg's), operation, and
        is_current_ancestor (False for snapshots on unpublished branches)
        — queried with ORDER BY made_current_at DESC LIMIT 1 in the
        reference (`bronze-silver.py:133-134`)."""
        meta = self._load()
        head = self._head(meta)
        ancestors = (
            {s["snapshot_id"] for s in self._lineage(meta, head["snapshot_id"])}
            if head
            else set()
        )
        rows = [
            (
                s["snapshot_id"],
                float(s["made_current_at"]),
                s["operation"],
                s["snapshot_id"] in ancestors,
            )
            for s in meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, made_current_at_sec double, operation string,"
            " is_current_ancestor boolean",
        ).select(
            "snapshot_id",
            F.timestamp_seconds("made_current_at_sec").alias("made_current_at"),
            "operation",
            "is_current_ancestor",
        )

    def snapshots_table(self) -> DataFrame:
        """Metadata table (`<table>.snapshots` analogue): one row per
        snapshot with committed_at (TIMESTAMP), parent_id, operation, and
        Iceberg's standard summary counters — added-* PARENT-RELATIVE per
        the spec's Snapshot Summary (files live here but absent from the
        parent state; this matches manifest-added for appends and COW
        rewrites, and stays correct for cherry-pick / rollback-forward
        commits whose incoming dirs remain owned by the SOURCE snapshot),
        and total-* (`total-records` / `total-data-files` /
        `total-files-size`) for the snapshot's full live state — the
        counters ops tooling reads off `.snapshots` without touching a
        manifest. Built from _meta.json on the driver — O(snapshot count ×
        live dirs), no data-file I/O, same as Iceberg reading its metadata
        tree."""
        meta = self._load()
        by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}
        rows = []
        # the same dir (and the same mask files) recur in many snapshots'
        # active sets — resolve each distinct ENTRY once, or this
        # metadata-only call does O(snapshots × dirs) repeated mask-file
        # parquet reads on long histories
        entry_cache: dict[str, dict[str, tuple[int, int]]] = {}
        # added-* diffs against the snapshot's ACTUAL parent, not the
        # wall-order list predecessor: meta["snapshots"] interleaves
        # branch/staged commits, so a cherry-pick immediately following
        # its staged snapshot would otherwise diff against the staged
        # state (which already holds the picked files) and report
        # added=0 while the emitted metadata — which walks the main
        # lineage — reports them added. An expired/unretained parent
        # diffs against empty, like the oldest retained snapshot.
        live_by_sid: dict[int, dict[str, tuple[int, int]]] = {}
        for s in meta["snapshots"]:
            live: dict[str, tuple[int, int]] = {}
            for e in s.get("active_dirs", []):
                ckey = json.dumps(e, sort_keys=True) if isinstance(e, dict) else str(e)
                ent = entry_cache.get(ckey)
                if ent is None:
                    _rel, _excl, files = self._entry_files(meta, by_sid, e)
                    ent = entry_cache[ckey] = {
                        f["path"]: (f["rows"], f["bytes"]) for f in files
                    }
                live.update(ent)
            live_by_sid[s["snapshot_id"]] = live
            parent = self._parent_id(s)
            parent_live = live_by_sid.get(parent, {}) if parent is not None else {}
            added = [v for p, v in live.items() if p not in parent_live]
            rows.append(
                (
                    s["snapshot_id"],
                    float(s["made_current_at"]),
                    parent if parent in by_sid else None,
                    s["operation"],
                    len(added),
                    sum(v[0] for v in added),
                    sum(v[1] for v in added),
                    len(live),
                    sum(v[0] for v in live.values()),
                    sum(v[1] for v in live.values()),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, committed_at_sec double, parent_id long,"
            " operation string, added_files long, added_rows long, added_bytes long,"
            " total_data_files long, total_records long, total_files_size long",
        ).select(
            "snapshot_id",
            F.timestamp_seconds("committed_at_sec").alias("committed_at"),
            "parent_id",
            "operation",
            "added_files",
            "added_rows",
            "added_bytes",
            "total_data_files",
            "total_records",
            "total_files_size",
        )

    def files_table(self) -> DataFrame:
        """Metadata table (`<table>.files` analogue): one row per file
        LIVE in the current snapshot — data files (content=0, with
        partition-exclusion masks applied so rewritten partitions' old
        files are gone, like Iceberg manifests after a rewrite) and MOR
        equality-delete files (content=2). Row counts/bytes come from the
        manifest recorded at write time, not a re-scan."""
        meta = self._load()
        # a None main head (the only commits so far landed on a BRANCH —
        # WAP staging before the first main publish): main's metadata
        # view is empty, not an error
        head = self._head(meta)
        rows = [
            (0, f["path"], _part_repr(f["partition"]), f["rows"], f["bytes"], _dir_sid(rel))
            for rel, f in self._snapshot_files(meta, head)
        ]
        rows += [
            (2, f["path"], "", f["rows"], f["bytes"], d["sid"])
            for d, stats in self._snapshot_deletes(meta, head)
            for f in stats
        ]
        return self.spark.createDataFrame(
            rows,
            "content int, file_path string, partition string, record_count long,"
            " file_bytes long, snapshot_id long",
        )

    def partitions_table(self) -> DataFrame:
        """Metadata table (`<table>.partitions` analogue): per live
        partition, the data-file count / record count / bytes in the
        current snapshot. Like Iceberg's, record counts are data-file
        totals — MOR equality deletes are not netted out (they live in
        the delete files until compaction)."""
        from collections import defaultdict

        agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
        for _rel, f in self._live_files():
            a = agg[_part_repr(f["partition"])]
            a[0] += 1
            a[1] += f["rows"]
            a[2] += f["bytes"]
        rows = [(p, v[0], v[1], v[2]) for p, v in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows, "part string, file_count long, record_count long, total_bytes long"
        )

    def all_files_table(self) -> DataFrame:
        """Metadata table (`<table>.all_files` analogue): every file ever
        ADDED, per snapshot — data files content=0, MOR equality-delete
        files content=2 — straight from the per-snapshot manifest."""
        rows = []
        for s in self._load()["snapshots"]:
            for f in s.get("files", []):
                rows.append(
                    (s["snapshot_id"], 0, f["path"], _part_repr(f["partition"]),
                     f["rows"], f["bytes"])
                )
            for f in s.get("delete_file_stats", []):
                rows.append((s["snapshot_id"], 2, f["path"], "", f["rows"], f["bytes"]))
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, content int, file_path string, part string,"
            " record_count long, file_bytes long",
        )

    def position_deletes_table(self) -> DataFrame:
        """Metadata table (`<table>.position_deletes` analogue, Iceberg
        v2): one row per ACTIVE positional delete — the (data file, row
        position) identity each delete file holds, plus the delete file
        and the snapshot that committed it. Equality deletes are not
        rows here (they carry key predicates, not positions — Iceberg
        scopes this table to position deletes too). Reads the delete
        parquet distributed; file count is O(active delete commits)."""
        head = self._head(self._load())
        pos_dels = [
            d
            for d in (head.get("active_deletes", []) if head else [])
            if d.get("style") == "position"
        ]
        schema = (
            "file_path string, pos long, delete_file string,"
            " delete_snapshot_id long"
        )
        if not pos_dels:
            return self.spark.createDataFrame([], schema)
        sid = _file_sid_expr()
        return self._read_files([d["file"] for d in pos_dels], _POS_DELETE_SCHEMA, cols=[
            F.col("file_rel").alias("file_path"),
            "pos",
            F.concat(F.lit("deletes/s"), sid).alias("delete_file"),
            sid.alias("delete_snapshot_id"),
        ])

    def entries_table(self) -> DataFrame:
        """Metadata table (`<table>.entries` analogue): one row per
        manifest entry of the CURRENT snapshot with the entry lifecycle
        status Iceberg records — 1=ADDED by this commit, 0=EXISTING
        (carried forward from an earlier commit), 2=DELETED by this
        commit (the tombstone entry Iceberg keeps so incremental readers
        can see removals until the manifest is rewritten; here derived as
        the live-set diff against the parent snapshot, so tombstones older
        than one commit are gone — same practical window a compacted
        manifest gives). `status` pairs with `snapshot_id` (the commit
        that ADDED the file, or the head commit for DELETED entries) to
        answer "which commit did this to the file" with zero data I/O."""
        meta = self._load()
        schema = (
            "status int, snapshot_id long, content int, file_path string,"
            " partition string, record_count long, file_bytes long"
        )
        head = self._head(meta)
        if head is None:  # empty main (e.g. branch-only WAP table)
            return self.spark.createDataFrame([], schema)
        head_sid = head["snapshot_id"]
        by_sid = {s["snapshot_id"]: s for s in meta["snapshots"]}

        def live(snap: dict | None) -> dict:
            return {f["path"]: (_dir_sid(rel), f) for rel, f in self._snapshot_files(meta, snap)}

        cur = live(head)
        # parent may be expired: no tombstones derivable, current-only view
        prev = live(by_sid.get(self._parent_id(head)))
        rows = []
        for path, (sid, f) in cur.items():
            rows.append(
                (1 if sid == head_sid else 0, sid, 0, path,
                 _part_repr(f["partition"]), f["rows"], f["bytes"])
            )
        for path, (_sid, f) in prev.items():
            if path not in cur:
                rows.append(
                    (2, head_sid, 0, path, _part_repr(f["partition"]),
                     f["rows"], f["bytes"])
                )
        for d, stats in self._snapshot_deletes(meta, head):
            for f in stats:
                rows.append(
                    (1 if d["sid"] == head_sid else 0, d["sid"], 2,
                     f["path"], "", f["rows"], f["bytes"])
                )
        return self.spark.createDataFrame(rows, schema)

    def manifests_table(self) -> DataFrame:
        """Metadata table (`<table>.manifests` analogue): one row per
        snapshot's write manifest — added data/delete file counts, added
        rows, and the partition set the commit touched."""
        rows = []
        for s in self._load()["snapshots"]:
            files = s.get("files", [])
            dels = s.get("delete_file_stats", [])
            parts = sorted(
                {
                    "/".join(
                        f"{c}={'null' if v is None else v}"
                        for c, v in f["partition"].items()
                    )
                    for f in files
                }
            )
            rows.append(
                (
                    s["snapshot_id"],
                    s["operation"],
                    len(files),
                    len(dels),
                    sum(f["rows"] for f in files),
                    sum(f["rows"] for f in dels),
                    parts,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, operation string, added_data_files int,"
            " added_delete_files int, added_rows long, added_delete_rows long,"
            " partition_summary array<string>",
        )

    def metadata_log_entries_table(self) -> DataFrame:
        """Metadata table (Iceberg `.metadata_log_entries`): one row per
        emitted metadata.json version — the `metadata-log` chain of the
        LATEST version file plus that file itself. The latest file is
        found by the reference reader's discovery rule
        (`read_iceberg_duckdb.py:22-44`: list metadata/, keep
        *.metadata.json, sorted()[-1] — naming-normalized and
        cross-checked against version-hint.text in
        `iceberg_meta.discover_latest_metadata`). Raises if
        `write_iceberg_metadata` has never run on this table. Driver-side
        metadata work, O(version count)."""
        from .iceberg_meta import discover_latest_metadata, metadata_log_entries

        latest = discover_latest_metadata(self.root)
        rows = [
            (
                e["file"],
                e["timestamp_ms"],
                e["latest_snapshot_id"],
                e["latest_schema_id"],
                e["latest_sequence_number"],
            )
            for e in metadata_log_entries(latest)
        ]
        return self.spark.createDataFrame(
            rows,
            "file string, timestamp_ms long, latest_snapshot_id long,"
            " latest_schema_id int, latest_sequence_number long",
        )

    # -- merge (J1) --------------------------------------------------------
    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        op_col: str | None = None,
        delete_value: str = "D",
        summary_extra: dict | None = None,
    ) -> int:
        """MERGE INTO: latest-wins upsert of `source` (pre-deduplicated, one
        row per key) into the table; commits a new snapshot. Execution
        follows the `write.merge.mode` table property
        (`bronze-silver.py:178-191`):

        - `merge-on-read`: one merge-on-read delta commit
          (`_commit_mor_delta`): the upserted rows plus an equality-delete
          file of every source key. No target scan, no rewrite: merge cost
          is O(batch) — the 100 TB CDC shape (Iceberg v2 equality deletes).
        - `copy-on-write` (default): the partition-scoped rewrite
          (`_rewrite_partitions`) of the partitions the batch touches —
          source partitions ∪ partitions of target rows matching a source
          key (an update that MOVES a row rewrites both). Unpartitioned,
          a full-state rewrite.
        """
        meta = self._load()
        mode = meta.get("properties", {}).get("write.merge.mode", "copy-on-write")
        cols = [f.name for f in T.StructType.fromDDL(meta["schema"]).fields]
        src = source.select(*[c for c in cols if c in source.columns],
                            *([op_col] if op_col and op_col not in cols else []))
        if mode == "merge-on-read":
            # materialize the SOURCE once: the data write and the key write
            # both read it; a lazy plan would re-run it per consumer (it may
            # be a streaming batch, and for signature merges the source
            # carries the batch's whole minhash text pass — r15 verdict
            # task 7). Exception: a source built on the driver (`_is_local`:
            # a deterministic plan whose leaves are all LocalRelations — the
            # labels_df label/CDC frames, the cluster tier's Arrow signature
            # batch, and unions of them) is already materialized BY VALUE;
            # re-evaluation cannot differ and the eager checkpoint would be
            # a pure extra Spark job per merge commit. It is coalesced to
            # one partition instead (a union of local frames has one per
            # leg), so the data write and the key write each run one task
            # and write one file.
            src = src.coalesce(1) if _is_local(src) else src.localCheckpoint(eager=True)
            upserts = src if op_col is None else src.filter(
                ~(F.coalesce(F.col(op_col), F.lit("")) == F.lit(delete_value))
            )
            # every source key (incl. deletes) suppresses older rows of that
            # key; the source holds one row per key, so its key column IS
            # the key set: no distinct, no shuffle. One task writes it, so
            # a checkpoint of many partitions still commits one file.
            return self._commit_mor_delta(
                "merge", dict({"mode": "merge-on-read"}, **(summary_extra or {})),
                src.select(*keys).coalesce(1), keys, data=upserts.select(*cols),
            )
        if meta["partition_by"]:
            src = src.localCheckpoint(eager=True)  # the scoped rewrite reads it 3x
        target = self._scan_head(meta)
        return self._rewrite_partitions(
            meta,
            target,
            # one key semi-join over the partition columns of the target scan
            lambda cols: src.select(*cols).distinct().unionByName(
                target.join(src.select(*keys).distinct(), list(keys), "left_semi")
                .select(*cols).distinct()
            ),
            lambda rows: merge_upsert(rows, src, keys, op_col=op_col, delete_value=delete_value),
            "merge", {"mode": "copy-on-write"}, summary_extra,
        )

    def _commit_mor_delta(
        self, operation: str, summary: dict, deletes: DataFrame,
        keys: list[str] | None, data: DataFrame | None = None,
    ) -> int:
        """Merge-on-read delta commit, the one writer of MOR delete files:
        `data` (if any) becomes a new data dir, then `deletes` ONE delete
        file — an equality-delete frame of `keys`, or with `keys` None
        (file_rel, pos) row identities. The file carries this commit's
        sid, so it masks matching rows of OLDER snapshots only (Iceberg v2
        sequence numbers) — never the rows appended with it. Cost is
        O(delta); readers pay the anti-join until `compact()`."""
        meta = self._load()
        sid = self._next_sid(meta)
        prev = self._head(meta)
        fields = {"dirs": [], "partitions": [], "files": []}
        if data is not None:
            rel, parts, files = self._write_data_dir(data, meta, sid)
            fields = {"dirs": [rel], "partitions": parts, "files": files}
        drel = f"deletes/s{sid}"
        dstage = os.path.join(self.root, f"deletes/.stage-{uuid.uuid4().hex[:12]}")
        deletes.write.mode("overwrite").parquet(dstage)
        self._publish_dir(dstage, os.path.join(self.root, drel), cleanup_on_conflict=True)
        entry = {"file": drel, "sid": sid}
        entry.update({"keys": list(keys)} if keys else {"style": "position"})
        return self._commit_snapshot(
            meta, operation, summary, delete_file=drel,
            delete_file_stats=self._file_stats(drel),
            active_deletes=(list(prev.get("active_deletes", [])) if prev else []) + [entry],
            **fields,
        )

    def _rewrite_partitions(
        self,
        meta: dict,
        target: DataFrame,
        touched,
        rewrite,
        operation: str,
        summary: dict,
        summary_extra: dict | None = None,
        count_key: str = "scoped_partitions",
    ) -> int:
        """Partition-scoped copy-on-write, the one rewrite behind COW
        `merge` / `delete_where` / `update_where`, `maintain` and
        `overwrite_partitions`. `touched(cols)` yields the partition
        tuples replaced (`cols`: the partition expressions; repeats
        allowed); `rewrite(rows)` maps their current rows to the rows
        written instead. Older dirs get the tuples masked out
        (`_mask_active_dirs`): untouched partitions' files stay
        byte-identical. Planning is CAPPED: up to `write.cow.scope-cap`
        tuples are collected and inlined as exclusion lists + an OR
        predicate (Iceberg's driver-side planning cost class); above it,
        e.g. a wide batch on a bucket(65536) spec, the set stays
        distributed and selection and masking join a parquet mask file,
        bounding driver memory and predicate size at any cardinality.
        Nothing touched: a metadata-only no-op commit.

        Unpartitioned tables rewrite the full state (the only correct COW
        granularity without a spec) as a full overwrite (`_overwrite`).
        `target` must be read from `meta` (`_scan_head`), the state every
        route commits against: an append that lands after the scan fails
        the CAS with CommitConflict instead of being rewritten away. No
        route checkpoints the plan: the staged write evaluates it once
        before the metadata swap and the dirs it reads are immutable."""
        fields = self._part_fields(meta)
        if not fields:
            return self._overwrite(
                meta, rewrite(target).select(*target.columns), operation, summary_extra
            )
        schema = T.StructType.fromDDL(meta["schema"])
        parts_df = touched(
            [field_expr(f, schema).alias(f.name) for f in fields]
        ).distinct().localCheckpoint(eager=True)
        cap = int(meta.get("properties", {}).get("write.cow.scope-cap", 10000))
        head_rows = _probe_collect(parts_df, cap)
        capped = len(head_rows) > cap
        parts = [] if capped else [
            {c: _part_str(v) for c, v in r.asDict().items()} for r in head_rows
        ]
        summary = dict(
            summary, **{count_key: parts_df.count() if capped else len(parts)},
            **(summary_extra or {}),
        )
        if not parts and not capped:
            return self._commit_snapshot(meta, operation, summary, partitions=[])
        if capped:
            rows = self._mask_join(target, parts_df, fields, schema, "left_semi")
        else:
            rows = target.filter(self._partition_match_expr(parts, fields, schema))
        sid = self._next_sid(meta)
        rel, written, files = self._write_data_dir(
            rewrite(rows).select(*target.columns), meta, sid
        )
        masked = {}
        if capped:
            masked["mask_file"] = self._write_mask_file(parts_df, sid)
            summary["scope"] = "mask-join"
        active = self._mask_active_dirs(
            self._head(meta), meta["snapshots"], parts, masked.get("mask_file")
        )
        return self._commit_snapshot(
            meta, operation, summary, dirs=[rel], active_dirs=active + [rel],
            partitions=written, files=files, **masked,
        )

    def _write_mask_file(self, parts_df: DataFrame, sid: int) -> str:
        """Persist the touched-partition set as `masks/s{sid}` parquet
        (distributed write — the capped path never collects it)."""
        mask_rel = f"masks/s{sid}"
        stage = os.path.join(self.root, f"masks/.stage-{uuid.uuid4().hex[:12]}")
        parts_df.coalesce(1).write.mode("overwrite").parquet(stage)
        self._publish_dir(stage, os.path.join(self.root, mask_rel), cleanup_on_conflict=True)
        return mask_rel

    def _mask_active_dirs(
        self, prev, snaps: list, parts: list, mask_rel: str | None
    ) -> list:
        """Mask the rewritten partitions out of every older dir — inline
        tuples below the cap (dropping dirs whose partitions are then
        fully masked), a mask-file reference above it (no drop check:
        that would need the full tuple set driver-side)."""
        dir_parts = {
            s["dirs"][0]: s.get("partitions") for s in snaps if s.get("dirs")
        }
        new_active: list = []
        for e in prev["active_dirs"] if prev else []:
            erel, excl = _entry_rel(e), _entry_excl(e)
            masks = _entry_masks(e)
            if mask_rel is None:
                new_excl = list(excl) + [p for p in parts if p not in excl]
                known = dir_parts.get(erel)
                if not masks and known is not None and all(
                    _raw_part(p) in new_excl for p in known
                ):
                    continue  # every partition in this dir is masked → drop it
                entry = {"dir": erel, "exclude": new_excl}
                if masks:
                    entry["exclude_masks"] = masks
            else:
                entry = {"dir": erel, "exclude_masks": masks + [mask_rel]}
                if excl:
                    entry["exclude"] = excl
            new_active.append(entry)
        return new_active

    # -- row-level DELETE / UPDATE (Iceberg `DELETE FROM` / `UPDATE`,
    # executing the write.delete.mode / write.update.mode the reference
    # configures at `raw-bronze.py:159-170` but only exercises via MERGE) --
    def delete_where(self, predicate: str, keys: list[str] | None = None) -> int:
        """Row-level DELETE FROM ... WHERE. Rows where the predicate is
        TRUE are removed (FALSE/NULL rows survive — SQL semantics).

        - `write.delete.mode=copy-on-write` (default): the partition-
          scoped rewrite (`_rewrite_partitions`) of the partitions holding
          matching rows — write amplification bounded by touched
          partitions.
        - `write.delete.mode=merge-on-read`: one delta commit of a delete
          file (`_mor_where`) — O(matching) write cost, applied at scan,
          folded by `compact()`. Needs `keys` (the row-identifying
          columns, like the reference's merge key) for an equality delete;
          `write.delete.style=position` (Iceberg v2's POSITIONAL deletes —
          what Spark's own MOR DELETE writes) records (file_rel, pos) row
          identities from the parquet `_metadata` column instead.
        """
        meta = self._load()
        mode = meta.get("properties", {}).get("write.delete.mode", "copy-on-write")
        if mode == "merge-on-read":
            return self._mor_where(meta, predicate, keys)
        target = self._scan_head(meta)
        pred = F.expr(predicate)
        return self._rewrite_partitions(
            meta,
            target,
            lambda cols: target.filter(pred).select(*cols),
            lambda rows: rows.filter(~F.coalesce(pred, F.lit(False))),
            "delete", {"mode": mode, "predicate": predicate},
        )

    def delete_keys(
        self,
        keys_df: DataFrame,
        keys: list[str],
        summary_extra: dict | None = None,
    ) -> int:
        """CDC/retraction fast path: merge-on-read equality delete straight
        from a DataFrame of key values — the Iceberg Op='D' CDC shape
        (reference `datagen/raw-datagen.py:16` emits that column). Unlike
        `delete_where`, no predicate scan of the table runs: the distinct
        key frame IS the equality-delete file of the delta commit
        (`_commit_mor_delta`), so the commit cost is O(|keys|) regardless
        of table size. Deletes are sequence-aware exactly like
        `delete_where`'s merge-on-read mode — they mask only rows
        committed BEFORE this snapshot, so a later re-append of the same
        key is visible (retract-then-upsert). A keyed delete frame is
        inherently merge-on-read; tables configured copy-on-write can
        still take it (COW users wanting a rewrite use `delete_where`).
        Keys absent from the table are harmless no-ops, as in Iceberg."""
        if not keys:
            raise ValueError("delete_keys needs at least one key column")
        schema = {f.name: f.dataType for f in self.schema().fields}
        unknown = [k for k in keys if k not in schema]
        if unknown:
            raise ValueError(f"unknown key column(s) {unknown!r}")
        return self._commit_mor_delta(
            "delete",
            dict(
                {"mode": "merge-on-read", "style": "equality",
                 "predicate": f"keys:{','.join(keys)}"},
                **(summary_extra or {}),
            ),
            keys_df.select(*[F.col(k).cast(schema[k]).alias(k) for k in keys]).distinct(),
            keys,
        )

    def update_where(
        self, predicate: str, assignments: dict[str, str], keys: list[str] | None = None
    ) -> int:
        """Row-level UPDATE ... SET ... WHERE. `assignments` maps column
        name → SQL expression; every expression reads the matching row's
        pre-image (one projection, as in SQL).

        - `write.update.mode=copy-on-write` (default): the partition-
          scoped rewrite (`_rewrite_partitions`) of the partitions holding
          matching rows, with the assignments applied.
        - `write.update.mode=merge-on-read` (the reference's silver config,
          `bronze-silver.py:184-189`): a delete of the pre-images plus an
          append of the post-images in one delta commit (`_mor_where`;
          `keys` or `write.delete.style=position` as in `delete_where`) —
          O(matching) cost, folded by `compact()`.
        """
        meta = self._load()
        schema = {f.name: f.dataType for f in T.StructType.fromDDL(meta["schema"]).fields}
        for c in assignments:
            if c not in schema:
                raise ValueError(f"unknown column {c!r}")
        pred = F.expr(predicate)

        def apply(rows: DataFrame) -> DataFrame:
            hit = F.coalesce(pred, F.lit(False))
            return rows.withColumns({
                c: F.when(hit, F.expr(e).cast(schema[c])).otherwise(F.col(c))
                for c, e in assignments.items()
            })

        props = meta.get("properties", {})
        if props.get("write.update.mode", "copy-on-write") == "merge-on-read":
            return self._mor_where(meta, predicate, keys, apply)
        target = self._scan_head(meta)
        return self._rewrite_partitions(
            meta,
            target,
            lambda cols: target.filter(pred).select(*cols),
            apply,
            "update", {"mode": "copy-on-write", "predicate": predicate},
        )

    def _mor_where(self, meta: dict, predicate: str, keys, apply=None) -> int:
        """Merge-on-read DELETE (`apply` None) or UPDATE as one delta
        commit: a delete file of the matching rows' pre-images — THEIR
        `keys`, or under `write.delete.style=position` their (file_rel,
        pos) identities — plus, for an UPDATE, `apply` of those rows
        appended. The UPDATE pins the pre-images once, so the delete file
        and the post-images come from the same rows, and an assignment to
        a key column deletes the old key, never a row already holding the
        new one. (Appended files have new paths: no position collides.)"""
        style = meta.get("properties", {}).get("write.delete.style", "equality")
        position = style == "position"
        if not position and not keys:
            raise ValueError(
                f"merge-on-read {'delete' if apply is None else 'update'} needs "
                "`keys` naming the row-identifying columns for the "
                "equality-delete file (or set write.delete.style=position)"
            )
        rows = self._scan_head(meta, positioned=position).filter(F.expr(predicate))
        if apply is not None:
            rows = rows.localCheckpoint(eager=True)
        return self._commit_mor_delta(
            "delete" if apply is None else "merge",  # an update: delete + insert
            {"mode": "merge-on-read", "style": style, "predicate": predicate},
            rows.selectExpr(*_POS_IDENTITY) if position else rows.select(*keys).distinct(),
            None if position else keys,
            None if apply is None else apply(rows).select(
                *[f.name for f in T.StructType.fromDDL(meta["schema"]).fields]
            ),
        )

    # -- time travel + maintenance (north star: "time-travel and table
    # maintenance operations"; Iceberg equivalents noted per method) -------
    def schema_at(self, snapshot_id: int) -> T.StructType:
        """Schema current AS OF `snapshot_id`: the earliest later
        evolve-schema commit recorded what the schema was before it."""
        return T.StructType.fromDDL(self._ddl_at(self._load(), snapshot_id))

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Named immutable ref to a snapshot (Iceberg `CREATE TAG` /
        `ALTER TABLE ... CREATE TAG`): metadata-only, defaults to the
        current snapshot. Tagged snapshots survive `expire_snapshots`
        consumers that resolve by name (`scan_at('audit-2024')`)."""
        meta = self._load()
        sid = snapshot_id if snapshot_id is not None else self._head(meta)["snapshot_id"]
        if not any(s["snapshot_id"] == sid for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot {sid}")
        tags = meta.setdefault("tags", {})
        if name in tags:
            raise ValueError(f"tag {name} already exists")
        tags[name] = sid
        self._commit(meta)
        return sid

    def tags(self) -> dict[str, int]:
        return dict(self._load().get("tags", {}))

    def refs_table(self) -> DataFrame:
        """Metadata table (`<table>.refs` analogue): every named ref —
        each branch (`main` first) plus one row per tag (Iceberg lists
        branches and tags the same way)."""
        meta = self._load()
        branches = dict(meta.get("branches", {}))
        if "main" not in branches:
            head = self._head(meta)
            if head is not None:
                branches["main"] = head["snapshot_id"]
        rows = [
            (name, "branch", sid)
            for name, sid in sorted(
                branches.items(), key=lambda kv: (kv[0] != "main", kv[0])
            )
        ]
        rows += [
            (name, "tag", sid) for name, sid in sorted(meta.get("tags", {}).items())
        ]
        return self.spark.createDataFrame(
            rows, "ref_name string, ref_type string, snapshot_id long"
        )

    def scan_at(self, ref: int | str) -> DataFrame:
        """Time-travel read: table state AS OF a snapshot id, tag, or
        branch name (Iceberg `VERSION AS OF` accepts all three), with the
        schema, exclusion masks, and delete files as of that snapshot."""
        meta = self._load()
        snap = self._resolve_ref(meta, ref)
        return self._scan_snapshot(
            meta, snap, T.StructType.fromDDL(self._ddl_at(meta, snap["snapshot_id"]))
        )

    @staticmethod
    def _resolve_ref(meta: dict, ref: int | str) -> dict:
        """The snapshot entry a VERSION AS OF `ref` names: a tag, a branch
        name, or a snapshot id (an int or its decimal string)."""
        if isinstance(ref, str):
            tags, branches = meta.get("tags", {}), meta.get("branches", {})
            if ref in tags:
                ref = tags[ref]
            elif ref in branches:
                ref = branches[ref]
            elif ref.lstrip("-").isdigit():
                ref = int(ref)
            else:
                raise ValueError(f"unknown ref {ref!r}")
        for s in meta["snapshots"]:
            if s["snapshot_id"] == ref:
                return s
        raise ValueError(f"unknown snapshot {ref}")

    def scan_as_of(self, ts) -> DataFrame:
        """Time-travel read by wall-clock time (Iceberg `FOR TIMESTAMP AS
        OF`): the state of the LATEST main-lineage snapshot made current
        at or before `ts` (epoch seconds, datetime, or
        'YYYY-MM-DD HH:MM:SS[.ffffff]' UTC string). Resolution walks the
        current main lineage — after a rollback, snapshots off the new
        lineage are not candidates (this table keeps no metadata-log of
        ref re-points, a documented difference from Iceberg's
        snapshot-log)."""
        meta = self._load()
        snap = self._snapshot_as_of(meta, ts)
        return self._scan_snapshot(
            meta, snap, T.StructType.fromDDL(self._ddl_at(meta, snap["snapshot_id"]))
        )

    def _snapshot_as_of(self, meta: dict, ts) -> dict:
        """The snapshot entry `scan_as_of(ts)` reads; `ts` may also be a
        decimal string of epoch seconds (the format reader's option)."""
        import datetime as _dt

        if isinstance(ts, str):
            try:
                ts = float(ts)
            except ValueError:
                ts = _dt.datetime.fromisoformat(ts).replace(tzinfo=_dt.timezone.utc)
        if isinstance(ts, _dt.datetime):
            ts = ts.replace(tzinfo=ts.tzinfo or _dt.timezone.utc).timestamp()
        head = self._head(meta)
        if head is None:
            raise ValueError("empty table: no snapshot at or before that time")
        lineage = self._lineage(meta, head["snapshot_id"])  # newest first
        for s in lineage:
            if float(s["made_current_at"]) <= float(ts):
                return s
        raise ValueError(
            f"no snapshot at or before {ts} (oldest retained: "
            f"{float(lineage[-1]['made_current_at'])})"
        )

    def compact(
        self,
        target_partitions: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current state into fewer, larger files (Iceberg
        `rewrite_data_files`). With `sort_by`, files are RANGE-CLUSTERED on
        those columns (Iceberg's sort-order rewrite): each output file
        covers a disjoint value range, so the manifest's min/max bounds
        become tight and `scan_pruned` can skip whole files — on the
        LEADING sort column only. With `zorder_by` (2-4 numeric columns),
        files are clustered on the Z-ORDER CURVE instead (Iceberg's
        `rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`)
        : each column is min/max-scaled to 16 bits and the bits
        interleaved, so EVERY z-column gets usefully tight per-file bounds
        — multi-dimensional pruning, where a linear sort helps only its
        first column. The min/max pre-pass is one 1-row aggregate,
        scalar-broadcast back; the clustering itself is the same
        range-repartition any sorted rewrite pays. Commits a `compact`
        snapshot; readers at old snapshots still see the old files until
        expiration."""
        meta = self._load()
        df = self._scan_head(meta)
        n = target_partitions or max(1, self.spark.sparkContext.defaultParallelism // 4)
        fields = self._part_fields(meta)
        # Partitioned tables: every rewrite strategy must cluster rows by
        # the partition key FIRST (hidden transforms included, same
        # derivation maintain() uses) — otherwise the n rewrite tasks each
        # hold rows of many partitions and the partitioned write emits up
        # to n x P files, a "compaction" that can INCREASE the live file
        # count (measured r15: 256 -> 284 on the cluster-partitioned
        # semantic store). Sort/z-order then applies WITHIN the
        # partition-clustered tasks, which is exactly Iceberg's semantics
        # (the partition spec dominates the sort order).
        schema = T.StructType.fromDDL(meta["schema"])
        part_cols = [field_expr(f, schema) for f in fields]
        if zorder_by:
            if sort_by:
                raise ValueError("sort_by and zorder_by are exclusive")
            if not 2 <= len(zorder_by) <= 4:
                raise ValueError("zorder_by takes 2-4 columns")
            k = len(zorder_by)
            stats = df.agg(
                *[F.min(c).cast("double").alias(f"__lo_{c}") for c in zorder_by],
                *[F.max(c).cast("double").alias(f"__hi_{c}") for c in zorder_by],
            )
            # 16-bit min/max scaling per column (nulls sort first as 0),
            # then bit interleave: bit i of column j → z bit i*k + j
            interleaves = []
            for j, c in enumerate(zorder_by):
                norm = (
                    f"CAST(coalesce(least(65535.0, greatest(0.0,"
                    f" (CAST({c} AS DOUBLE) - __lo_{c})"
                    f" / nullif(__hi_{c} - __lo_{c}, 0.0) * 65535.0)), 0.0) AS BIGINT)"
                )
                interleaves.append(
                    f"aggregate(sequence(0, 15), CAST(0 AS BIGINT),"
                    f" (acc, i) -> acc + shiftleft({norm} >> i & 1, i * {k} + {j}))"
                )
            zexpr = " + ".join(interleaves)
            zed = df.crossJoin(F.broadcast(stats)).withColumn("__z", F.expr(zexpr))
            if part_cols:
                zed = zed.repartition(n, *part_cols).sortWithinPartitions("__z")
            else:
                zed = zed.repartitionByRange(n, "__z").sortWithinPartitions("__z")
            squashed = zed.drop(
                "__z",
                *[f"__lo_{c}" for c in zorder_by],
                *[f"__hi_{c}" for c in zorder_by],
            )
        elif sort_by:
            if part_cols:
                squashed = df.repartition(n, *part_cols).sortWithinPartitions(*sort_by)
            else:
                squashed = df.repartitionByRange(n, *sort_by).sortWithinPartitions(
                    *sort_by
                )
        elif part_cols:
            squashed = df.repartition(n, *part_cols)
        else:
            squashed = df.coalesce(n)
        squashed = squashed.localCheckpoint(eager=True)
        return self._overwrite(meta, squashed, "compact")

    def maintain(self, max_files_per_partition: int = 4) -> int | None:
        """Targeted small-file compaction (the auto-maintenance policy a
        catalog service runs on an Iceberg table): rewrite ONLY the
        partitions whose live data-file count exceeds the threshold,
        leaving every healthy partition's files untouched. Partition file
        counts come from the MANIFEST — the overfull set is found with
        zero data I/O — and the rewrite is the same partition-scoped COW
        commit MERGE/DML use, so maintenance cost is O(overfull
        partitions), never a full-table rewrite. Appends keep streaming in
        while cold partitions stay byte-identical. Returns the new
        snapshot id, or None when no partition breaches the policy (no
        commit at all). Unpartitioned tables fall back to a whole-table
        `compact()` when the total file count breaches the threshold."""
        from collections import Counter

        meta = self._load()
        fields = self._part_fields(meta)
        live = self._live_files(meta)
        if not fields:
            if len(live) <= max_files_per_partition:
                return None
            return self.compact()
        counts = Counter(tuple(sorted(_file_part(f).items())) for _rel, f in live)
        over = [dict(k) for k, c in counts.items() if c > max_files_per_partition]
        if not over:
            return None
        schema = T.StructType.fromDDL(meta["schema"])
        match = self._partition_match_expr(over, fields, schema)
        part_exprs = [field_expr(f, schema) for f in fields]
        target = self._scan_head(meta)
        return self._rewrite_partitions(
            meta,
            target,
            lambda cols: target.filter(match).select(*cols),
            # cluster the rewritten rows by partition value so each
            # overfull partition lands in ~1 write task → ~1 file
            lambda df: df.repartition(max(1, len(over)), *part_exprs),
            "maintain",
            {
                "policy_max_files_per_partition": max_files_per_partition,
                "overfull_partitions": len(over),
            },
        )

    # -- manifest-level file pruning (Iceberg scan planning) ---------------
    def _live_files(self, meta: dict | None = None) -> list[tuple[str, dict]]:
        """(dir_rel, manifest entry) for every data file live in the
        current snapshot of `meta` (default: a fresh load) — active dirs
        minus partition-exclusion masks (`_snapshot_files`)."""
        meta = meta or self._load()
        return self._snapshot_files(meta, self._head(meta))

    def plan_files(self, col: str, lo, hi) -> tuple[list[tuple[str, dict]], int]:
        """Manifest-only scan planning: the live files whose [min, max]
        bounds for `col` overlap [lo, hi] (files without bounds for the
        column are conservatively kept), plus the total live-file count.
        O(manifest) driver work — no file is opened, the same skip an
        Iceberg scan does before task planning.

        Hidden-partitioning aware: when the table's spec has a field
        whose SOURCE is `col` (e.g. `days(ts)` for a `ts` predicate),
        the predicate is mapped into transform space and checked against
        each file's manifest partition value — the Iceberg trick that
        prunes on `ts` filters without `ts_day` appearing in the query.
        `bucket(N, col)` prunes equality predicates (lo == hi) to 1/N of
        the files; monotone transforms prune ranges."""
        return self._plan(self._load(), col, [(lo, hi)])

    def plan_files_in(self, col: str, values) -> tuple[list[tuple[str, dict]], int]:
        """Manifest-only planning for an IN (set-membership) predicate —
        the Iceberg `col IN (...)` partition-pruning shape `plan_files`'
        single range cannot express (a batch's cluster set is not a
        contiguous range). A file survives if ANY value's equality
        predicate keeps it: identity partitions prune to the exact value
        set, `bucket(N, col)` prunes to the values' bucket images,
        monotone transforms to their transform-space images; file column
        bounds prune against [min(values), max(values)]. Driver cost is
        O(files x |values|) — callers pass bounded sets (e.g. a batch's
        cluster ids, <= K, the same driver-state bound as the centroid
        list itself)."""
        return self._plan(self._load(), col, [(v, v) for v in values if v is not None])

    def _plan(self, meta: dict, col: str, ranges: list) -> tuple[list[tuple[str, dict]], int]:
        """The planner behind `plan_files` / `plan_files_in`: the live
        files of `meta`'s head that may hold a row with `col` in ANY of
        the [lo, hi] `ranges` (none: no file), and the live-file count.
        Column bounds prune against the ranges' hull; partition values
        (raw form, `_file_part`) against each range in transform space,
        with `bucket` fields hashed by the writer's Iceberg bucket
        function."""
        live = self._live_files(meta)
        if not ranges:
            return [], len(live)
        lo, hi = min(r[0] for r in ranges), max(r[1] for r in ranges)
        fields = [f for f in self._part_fields(meta) if f.source == col]
        bucket_of = {}
        if any(f.transform == "bucket" for f in fields):
            from .partitioning import iceberg_bucket

            dtype = T.StructType.fromDDL(meta["schema"])[col].dataType
            bucket_of = {
                f.name: (lambda v, n=f.param: iceberg_bucket(v, n, dtype))
                for f in fields if f.transform == "bucket"
            }
        renames = self._renames(meta)
        kept = []
        for rel, f in live:
            b = f.get("bounds", {}).get(self._name_at(renames, _dir_sid(rel), col, None))
            if b is not None and (hi < b[0] or lo > b[1]):
                continue
            part = _file_part(f)
            if any(
                pf.name in part
                and not any(
                    prune_keep(pf, part[pf.name], a, z, bucket_of=bucket_of.get(pf.name))
                    for a, z in ranges
                )
                for pf in fields
            ):
                continue
            kept.append((rel, f))
        return kept, len(live)

    def scan_pruned_in(self, col: str, values) -> DataFrame:
        """Current-state scan reading only the files `plan_files_in`
        keeps for `col IN (values)`. Same contract as `scan_pruned`:
        rows are unfiltered (callers apply their predicate on top),
        correctness identical to `scan()`, MOR deletes still apply."""
        meta = self._load()
        kept, _total = self._plan(meta, col, [(v, v) for v in values if v is not None])
        return self._scan_files(meta, kept)

    def scan_pruned(self, col: str, lo, hi) -> DataFrame:
        """Current-state scan reading ONLY the files `plan_files` keeps.
        Rows are still unfiltered (bounds overlap ≠ row match): callers
        apply their predicate on top; correctness is identical to
        `scan().filter(...)` because pruning only drops files that cannot
        contain matching rows. MOR delete files still apply."""
        meta = self._load()
        return self._scan_files(meta, self._plan(meta, col, [(lo, hi)])[0])

    def _scan_files(self, meta: dict, kept: list[tuple[str, dict]]) -> DataFrame:
        """The state of `meta` read through `_read_entries` narrowed to a
        planned file list (shared by `scan_pruned` / `scan_pruned_in`):
        same name mapping, partition parse and delete files as `scan()`."""
        files: dict[str, list[str]] = {}
        for rel, f in kept:
            files.setdefault(rel, []).append(f["path"])
        return self._scan_head(meta, files=files)

    def expire_snapshots(
        self, keep_last: int = 1, older_than: float | None = None
    ) -> list[int]:
        """Drop old snapshots and delete data dirs no surviving snapshot
        references (Iceberg `expire_snapshots`). Retention is Iceberg's:
        the newest `keep_last` snapshots always survive (`retain_last`),
        and with `older_than` (epoch seconds — Iceberg's primary knob)
        only snapshots made current BEFORE that instant are candidates.
        Returns the expired snapshot ids. Incremental reads over expired
        ranges raise, matching Iceberg. Metadata commits first: a crash
        mid-delete leaves orphan files (harmless), never a broken table."""
        import shutil

        meta = self._load()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return []
        # tags AND branch heads are protected refs (Iceberg: expire
        # retains snapshots reachable from any branch/tag)
        protected = set(meta.get("tags", {}).values())
        protected |= set(meta.get("branches", {}).values())
        # evolve-schema commits (incl. renames) are protected
        # UNCONDITIONALLY: their summaries are the table's schema/rename
        # HISTORY — `schema_at` reconstructs period schemas from
        # `prev_schema`, and `_renames`/`_name_at` map still-live dirs
        # written under pre-rename column names. Expiring one silently
        # null-fills renamed columns of surviving data (found by the
        # table-model fuzz once rename/addcol ops interleaved with
        # expire_age). They are metadata-only (no dirs), so retention
        # costs nothing — the moral equivalent of Iceberg's metadata.json
        # keeping every schema id forever, independent of snapshot expiry.
        # evolve-partition commits likewise: `_spec_at` reads a mask
        # file's columns from the spec they record.
        protected |= {
            s["snapshot_id"]
            for s in snaps
            if s["operation"] in ("evolve-schema", "evolve-partition")
        }
        tail = {s["snapshot_id"] for s in snaps[-keep_last:]}
        if older_than is not None:
            tail |= {
                s["snapshot_id"]
                for s in snaps
                if float(s["made_current_at"]) >= float(older_than)
            }
        keep = [s for s in snaps if s["snapshot_id"] in tail | protected]
        drop = [s for s in snaps if s["snapshot_id"] not in tail | protected]
        if not drop:
            return []
        live = {_entry_rel(e) for s in keep for e in s["active_dirs"]}
        live |= {d for s in keep for d in s["dirs"]}
        live |= {d["file"] for s in keep for d in s.get("active_deletes", [])}
        # mask files stay live while ANY kept snapshot's entries cite them
        live |= {m for s in keep for e in s["active_dirs"] for m in _entry_masks(e)}
        expired_ids = [s["snapshot_id"] for s in drop]
        dead = {d for s in drop for d in s["dirs"]} - live
        dead |= {
            s["delete_file"] for s in drop if s.get("delete_file")
        } - live
        dead |= {s["mask_file"] for s in drop if s.get("mask_file")} - live
        # relocate the manifests of dirs that STAY referenced by kept
        # snapshots but whose owning snapshot entry is being dropped —
        # manifest-backed reads (.files/.entries/plan_files, native
        # emission) resolve them through meta["dir_manifests"]
        dm = dict(meta.get("dir_manifests", {}))
        for s in drop:
            for d_rel in s.get("dirs", []):
                if d_rel in live and d_rel not in dm:
                    dm[d_rel] = {
                        "snapshot_id": s["snapshot_id"],
                        "files": [
                            f for f in s.get("files", [])
                            if f["path"].startswith(d_rel + "/")
                        ],
                    }
            drel = s.get("delete_file")
            if drel and drel in live and drel not in dm:
                dm[drel] = {
                    "snapshot_id": s["snapshot_id"],
                    "delete_file_stats": s.get("delete_file_stats", []),
                }
        # prune stubs whose dirs finally died
        meta["dir_manifests"] = {k: v for k, v in dm.items() if k in live}
        if not meta["dir_manifests"]:
            del meta["dir_manifests"]
        meta["snapshots"] = keep
        self._commit(meta)
        for rel in dead:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        return expired_ids

    def analyze(self, columns: list[str] | None = None, k: int = 64) -> dict:
        """Table statistics service (Iceberg `ANALYZE TABLE` /
        `CALL system.compute_table_stats`, which records NDV sketches in
        a stats file): per-column null count + a K-MINIMUM-VALUES
        distinct-count sketch, stored in table properties
        (`stats.<col>` = JSON) via the versioned metadata-only property
        path — readable by `SHOW TBLPROPERTIES` and the `q_meta_analyze`
        oracle query.

        The sketch is DETERMINISTIC, which is what makes it verifiable
        cross-engine: hash = the first 15 hex chars of md5(CAST(col AS
        STRING)) (60 bits — bigint-safe in Spark and DuckDB alike), and
        the sketch is the k smallest DISTINCT hashes. `sample_size` < k
        means the column's exact NDV is sample_size; at sample_size = k
        the standard KMV estimator (k-1)/F(kth) applies, recorded as
        `ndv_est` (estimator output is float-derived, so oracle-graded
        queries pin the sketch — sample_size/kth_hash — not the
        estimate).

        Scale shape: one distributed job per analyzed column —
        DISTINCT on the hashed column (map-side combined) followed by a
        global top-k ascending (TakeOrderedAndProject: per-partition
        heaps of k rows, driver merge of k·partitions candidates) plus a
        1-row null-count aggregate. Never a driver-side distinct set; at
        100 TB this is the nightly stats job a catalog service runs per
        column. ANALYZE reads the CURRENT snapshot (deletes applied).

        Idempotent per snapshot (VERDICT r12): each stored stat carries
        the snapshot id it was computed at, and a column whose stored
        `stats.<col>` already matches the CURRENT snapshot (and sketch
        size) is returned from the properties without re-running its
        jobs — re-issuing ANALYZE on an unchanged table is a metadata
        read, exactly Iceberg's stats-file semantics (a Puffin file is
        bound to a snapshot; `compute_table_stats` on a computed
        snapshot is a no-op). Any new commit changes the head snapshot
        id and naturally invalidates the cache."""
        import json as _json

        schema = self.schema()
        names = {f.name for f in schema.fields}
        cols = columns or [f.name for f in schema.fields]
        unknown = [c for c in cols if c not in names]
        if unknown:
            raise ValueError(f"analyze: unknown columns {unknown}")
        # ONE metadata load for both the head snapshot id and the stored
        # stats properties: two separate _load() calls could straddle a
        # concurrent commit and pair a stale cur_sid with fresh stats (or
        # vice versa), mislabeling the idempotence key (ADVICE r13)
        meta = self._load()
        head = self._head(meta)
        cur_sid = head["snapshot_id"] if head else None
        props = meta.get("properties", {})
        out: dict[str, dict] = {}
        stale = []
        for c in cols:
            try:
                s = _json.loads(props[f"stats.{c}"])
            except (KeyError, ValueError):
                stale.append(c)
                continue
            if s.get("snapshot_id") == cur_sid and s.get("k") == k:
                out[c] = s
            else:
                stale.append(c)
        if not stale:
            return {c: out[c] for c in cols}
        df = self.scan().localCheckpoint(eager=True)  # one pass, reused per col
        row_count = df.count()
        for c in stale:
            hashed = df.selectExpr(
                f"CAST(conv(substr(md5(CAST(`{c}` AS STRING)), 1, 15), 16, 10)"
                f" AS BIGINT) AS h"
            ).filter("h IS NOT NULL")
            kmv = [r["h"] for r in hashed.distinct().orderBy("h").limit(k).collect()]
            nulls = df.filter(F.col(c).isNull()).count()
            stat = {
                "row_count": row_count,
                "null_count": nulls,
                "k": k,
                "sample_size": len(kmv),
                "kth_hash": kmv[-1] if kmv else None,
                # full sketch retained so iceberg_meta can serialize the
                # Puffin statistics blob (~1.3 KB/column at k=64)
                "kmv": kmv,
                # the snapshot this sketch describes — the idempotence key
                "snapshot_id": cur_sid,
            }
            if len(kmv) < k:
                stat["ndv_est"] = len(kmv)  # exact below the sketch size
            else:
                # pure integer arithmetic: (k-1)*16^15 is ~2^66, past
                # float53 precision — float division could skew the stored
                # estimate (and the Puffin ndv property) by ±1
                stat["ndv_est"] = (k - 1) * (16**15) // kmv[-1]
            out[c] = stat
        # persist only the recomputed columns: cache hits came FROM the
        # properties, rewriting them would version the metadata for nothing
        self.set_properties(
            {f"stats.{c}": _json.dumps(out[c], sort_keys=True) for c in stale}
        )
        return {c: out[c] for c in cols}

    def vacuum(
        self,
        max_files_per_partition: int = 4,
        keep_last: int = 2,
        orphan_older_than_s: float = _LOCK_STALE_S,
    ) -> dict:
        """One-call table service (the nightly job a catalog service
        schedules; Delta calls the cleanup half VACUUM): policy-driven
        small-file compaction (`maintain` — O(overfull partitions)),
        snapshot expiration (tag/branch-protected), then orphan cleanup.
        Ordering matters: maintain first so the rewrite's new snapshot is
        what expiration keeps; orphans last so dirs released by expiration
        in a PRIOR crashed run also get swept. Returns a report dict —
        everything in it is metadata-derived except the file deletes
        themselves."""
        report = {
            "compacted_snapshot_id": self.maintain(max_files_per_partition),
            "expired_snapshot_ids": self.expire_snapshots(keep_last=keep_last),
            "removed_orphan_dirs": self.remove_orphan_files(orphan_older_than_s),
        }
        return report

    def remove_orphan_files(self, older_than_s: float = _LOCK_STALE_S) -> list[str]:
        """Delete data/delete dirs on disk that NO snapshot references
        (Iceberg `remove_orphan_files`): leftovers of crashed writes that
        landed files before the metadata swap, or of an expire interrupted
        mid-delete. Reads only metadata + a two-level dir listing — never
        data. Dirs younger than `older_than_s` are kept (an in-flight
        writer's staging dir is not an orphan — Iceberg's `older_than`
        retention, here defaulting to the commit-lock staleness bound).
        Returns the removed dir rel-paths."""
        import shutil

        live: set[str] = set()
        for s in self._load()["snapshots"]:
            live |= {_entry_rel(e) for e in s["active_dirs"]}
            live |= set(s["dirs"])
            live |= {d["file"] for d in s.get("active_deletes", [])}
            if s.get("delete_file"):
                live.add(s["delete_file"])
        removed: list[str] = []
        for kind in ("data", "deletes"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for name in sorted(os.listdir(base)):
                rel = f"{kind}/{name}"
                if rel not in live:
                    full = os.path.join(base, name)
                    try:
                        if time.time() - os.path.getmtime(full) <= older_than_s:
                            continue
                    except OSError:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
        return removed
