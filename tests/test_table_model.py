"""Randomized model-based test of the snapshot table layer.

A seeded random sequence of table operations (append / overwrite /
MOR merge / row-level delete / compact / partition-spec evolution /
branch write / fast-forward publish) runs against BOTH the real
`SnapshotTable` and a trivial pure-Python model of the expected row
multiset. After every operation the real `scan()` must equal the model;
at the end, time travel must reproduce each recorded intermediate state,
and expiration must not disturb the current state.

This is the state-machine complement to the example-based tests: it
exercises operation INTERLEAVINGS (merge after overwrite after branch
write after spec evolution ...) no hand-written test enumerates.
"""

from __future__ import annotations

import random
import time

import pytest

from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

DDL = "id bigint, v string, part string"


def _rows(rng, n, id_hi=30):
    return [
        (rng.randrange(id_hi), rng.choice("abcde"), rng.choice(["x", "y", "z"]))
        for _ in range(n)
    ]


def _multiset(rows):
    return sorted(tuple(r) for r in rows)


def _scan_rows(df):
    # POSITIONAL extraction: column renames interleave into the sequence,
    # so historical reads may surface the v-column under either name —
    # field order is stable (renames and add/drop preserve prefix order),
    # names are not; widths vary with the add/drop history
    return _multiset(tuple(r) for r in df.collect())


def _dsv2_rows(spark, root, **options):
    from emr_apache_iceberg_workshop_spark.sources import dsv2

    dsv2.register(spark)
    r = spark.read.format(dsv2.FORMAT_NAME).option("table", root)
    for k, v in options.items():
        r = r.option(k.replace("_", "-"), str(v))
    return _scan_rows(r.load())


def _run_model(spark, tmp_path, seed: int, steps: int = 18):
    rng = random.Random(seed)
    t = SnapshotTable.create(
        spark,
        str(tmp_path / f"m{seed}"),
        DDL,
        partition_by=["part"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    vname = "v"  # current name of the middle column (renames toggle it)
    cols_extra: list[str] = []  # added bigint columns, in add order
    retired: list[str] = []  # dropped names, available for REUSE (the
    # field-id rule: a re-added name is a new column — old files NULL)
    extra_n = 0

    def ddl_now() -> str:
        return f"id bigint, {vname} string, part string" + "".join(
            f", {c} bigint" for c in cols_extra
        )

    def df(rows):
        return spark.createDataFrame(rows, ddl_now())

    def mk_rows(n):
        # base 3-tuple rows + a value for every currently-added column
        return [
            r + tuple(rng.randrange(100) for _ in cols_extra)
            for r in _rows(rng, n)
        ]

    def pad(r: tuple) -> tuple:
        # rows written before an add read back with the new columns NULL
        return r + (None,) * (3 + len(cols_extra) - len(r))

    main: list[tuple] = []
    branch: list[tuple] | None = None  # state of branch "b" when it exists
    branch_commits: list[tuple[int, list[tuple]]] = []  # (sid, rows) staged on b
    states: dict[int, list[tuple]] = {}  # main-lineage sid -> expected rows

    def commit_main(sid):
        states[sid] = list(main)

    for _step in range(steps):
        op = rng.choice(
            ["append", "append", "merge", "overwrite", "delete", "compact",
             "evolve", "branch_write", "publish", "update", "maintain",
             "cherry", "posdelete", "expire_age", "rename", "rename",
             "addcol", "dropcol", "analyze", "add_files"]
        )
        if op == "append":
            rows = mk_rows(rng.randrange(1, 5))
            main = main + rows
            if rng.random() < 0.4:
                # route through the DSv2 format writer: pyarrow staging +
                # the shared commit_staged protocol, interleaved with
                # native ops — the two write paths must be committed-state
                # indistinguishable
                from emr_apache_iceberg_workshop_spark.sources import dsv2

                dsv2.register(spark)
                df(rows).write.format(dsv2.FORMAT_NAME).mode("append").option(
                    "table", t.root
                ).save()
                commit_main(t.latest_snapshot_id())
            else:
                commit_main(t.write(df(rows)))
        elif op == "add_files":
            # zero-rewrite import: externally-written hive parquet
            # registered in place — must be committed-state identical to
            # an append of the same rows, through any later interleaving
            # (merge/delete/compact/evolution hit imported files too)
            rows = mk_rows(rng.randrange(1, 4))
            src = str(tmp_path / f"ext{seed}_{_step}")
            part_cols = [f.name for f in t._part_fields(t._load())]
            df(rows).coalesce(1).write.partitionBy(*part_cols).parquet(src)
            main = main + rows
            commit_main(t.add_files(src))
        elif op == "overwrite":
            rows = mk_rows(rng.randrange(1, 4))
            main = list(rows)
            commit_main(t.write(df(rows), mode="overwrite"))
        elif op == "merge":
            # unique ids per batch (MERGE cardinality rule)
            batch = {r[0]: r for r in mk_rows(rng.randrange(1, 5))}
            rows = list(batch.values())
            main = [r for r in main if r[0] not in batch] + rows
            commit_main(t.merge(df(rows), keys=["id"]))
        elif op == "delete":
            lo = rng.randrange(0, 30)
            main = [r for r in main if not (lo <= r[0] < lo + 6)]
            commit_main(t.delete_where(f"id >= {lo} AND id < {lo + 6}"))
        elif op == "compact":
            # alternate plain squash and range-clustered (sorted) rewrite
            if rng.random() < 0.5:
                commit_main(t.compact(target_partitions=2))
            else:
                commit_main(t.compact(target_partitions=2, sort_by=["id"]))
        elif op == "update":
            lo = rng.randrange(0, 30)
            main = [
                (r[0], "z") + r[2:] if lo <= r[0] < lo + 4 else r
                for r in main
            ]
            sid = t.update_where(f"id >= {lo} AND id < {lo + 4}", {vname: "'z'"})
            if sid is not None:
                commit_main(sid)
        elif op == "maintain":
            # logical no-op: targeted small-file compaction (or nothing)
            sid = t.maintain(max_files_per_partition=2)
            if sid is not None:
                commit_main(sid)
        elif op == "posdelete":
            # positional MOR delete (v2 style): flip the write properties
            # for one statement, restore after — property changes are
            # metadata-only versioning, no snapshot
            lo = rng.randrange(0, 30)
            t.set_properties(
                {"write.delete.mode": "merge-on-read",
                 "write.delete.style": "position"}
            )
            main = [r for r in main if not (lo <= r[0] < lo + 4)]
            commit_main(t.delete_where(f"id >= {lo} AND id < {lo + 4}"))
            t.set_properties(
                {"write.delete.mode": "copy-on-write",
                 "write.delete.style": "equality"}
            )
        elif op == "analyze":
            # statistics service mid-sequence: metadata-only (no snapshot),
            # reads the CURRENT state — its row_count must equal the
            # model's, through any mix of MOR deletes/COW/evolution; the
            # stats property must also survive later renames (checked
            # implicitly: analyze on the toggling v column stores under
            # the CURRENT name and rename_column carries it over)
            col = rng.choice(["id", vname, "part"] + cols_extra)
            head_before = t.latest_snapshot_id()
            stats = t.analyze([col])
            assert stats[col]["row_count"] == len(main), (
                f"analyze({col}) row_count {stats[col]['row_count']} != "
                f"model {len(main)}"
            )
            assert t.latest_snapshot_id() == head_before
        elif op == "expire_age":
            # timestamp retention mid-sequence: a cutoff in the past is a
            # no-op, one in the future expires all but keep_last +
            # protected refs; the CURRENT state must never change
            cutoff = time.time() + (1.0 if rng.random() < 0.5 else -3600.0)
            t.expire_snapshots(keep_last=3, older_than=cutoff)
        elif op == "addcol":
            # additive schema evolution: METADATA-ONLY commit; every row
            # written before it reads back with the new column NULL (both
            # scan paths), historical states keep their period widths.
            # Skipped above 3 extras to bound the schema walk.
            if len(cols_extra) >= 3:
                continue
            if retired and rng.random() < 0.4:
                # REUSE a previously-dropped name: a different logical
                # column under the same name — pre-existing rows must
                # read NULL, never the dead column's file values
                name = retired.pop(rng.randrange(len(retired)))
            else:
                extra_n += 1
                name = f"e{extra_n}"
            sid = t.evolve_schema(add={name: "bigint"})
            cols_extra.append(name)
            main = [r + (None,) for r in main]
            # branch reads use the TABLE's current schema (Iceberg's
            # branch/tag rule), so staged branch state reshapes too
            if branch is not None:
                branch = [r + (None,) for r in branch]
                branch_commits = [
                    (s, [r + (None,) for r in rs]) for s, rs in branch_commits
                ]
            commit_main(sid)
        elif op == "dropcol":
            # subtractive evolution restricted to previously-added extras
            # (id/v/part stay, like a real table's core columns)
            if not cols_extra:
                continue
            name = rng.choice(cols_extra)
            idx = 3 + cols_extra.index(name)
            sid = t.evolve_schema(drop=[name])
            cols_extra.remove(name)
            retired.append(name)
            main = [r[:idx] + r[idx + 1 :] for r in main]
            if branch is not None:
                branch = [r[:idx] + r[idx + 1 :] for r in branch]
                branch_commits = [
                    (s, [r[:idx] + r[idx + 1 :] for r in rs])
                    for s, rs in branch_commits
                ]
            commit_main(sid)
        elif op == "rename":
            # toggle the v column between "v" and "vv": a METADATA-ONLY
            # commit; every subsequent scan (native AND dsv2 — whose
            # per-dir historical-name translation is the subtlest reader
            # path, sources/dsv2.py) must read old dirs under old names.
            # Refused when v is currently a partition source (a prior
            # evolve put it in the spec) — refusal changes nothing.
            other = "vv" if vname == "v" else "v"
            try:
                sid = t.rename_column(vname, other)
            except ValueError:
                pass
            else:
                vname = other
                commit_main(sid)
        elif op == "evolve":
            commit_main(t.evolve_partition_spec(rng.choice([["part"], [vname]])))
        elif op == "branch_write":
            rows = mk_rows(rng.randrange(1, 4))
            if branch is None:
                branch = list(main)  # auto-created from main
            bsid = t.write(df(rows), branch="b")
            # the branch head is now the newest snapshot, so a branch
            # scan reads under the CURRENT schema: rows staged before an
            # intervening add/drop re-shape accordingly (old dirs
            # null-fill added columns; dropped columns vanish)
            width = 3 + len(cols_extra)
            branch = [pad(r)[:width] for r in branch] + rows
            branch_commits = [
                (s, [pad(r)[:width] for r in rs]) for s, rs in branch_commits
            ]
            branch_commits.append((bsid, rows))
        elif op == "publish":
            if branch is None:
                continue
            try:
                t.fast_forward("b")
            except ValueError:
                continue  # diverged — refusal is the correct behavior
            # publish succeeded: branch state IS the new main state, and
            # the publish commit belongs to the main lineage now
            main = list(branch)
            branch_commits = []  # everything staged is now on main
            states[t.latest_snapshot_id()] = list(main)
        elif op == "cherry":
            # re-apply the oldest staged append onto main; the table may
            # refuse (already applied, or newer MOR delete files would
            # retroactively hit the incoming rows) — refusal means no
            # state change, which the post-op scan assert still checks
            if not branch_commits:
                continue
            sid_staged, rows = branch_commits[0]
            try:
                picked = t.cherry_pick_snapshot(sid_staged)
            except ValueError:
                continue
            # staged rows may predate an add/drop: they land with the
            # current schema's shape (missing columns NULL)
            width = 3 + len(cols_extra)
            main = main + [pad(r)[:width] for r in rows]
            branch_commits.pop(0)
            states[picked] = list(main)

        assert _scan_rows(t.scan()) == _multiset(main), f"seed={seed} after {op}"
        if branch is not None:
            assert _scan_rows(t.scan(branch="b")) == _multiset(branch)
        if _step % 3 == 0:
            # the INDEPENDENT pyarrow read path must agree with the model
            # at arbitrary interleaved states (MOR deletes, exclusions,
            # spec evolution, branch forks) — cross-implementation fuzz
            # of the format itself, not just of one reader
            assert _dsv2_rows(spark, t.root) == _multiset(main), (
                f"seed={seed} dsv2 after {op}"
            )
            if branch is not None:
                assert _dsv2_rows(spark, t.root, branch="b") == _multiset(branch)
        if _step % 5 == 0:
            # manifest-consistency invariant: the non-tombstone entries of
            # `.entries` are exactly the live data files of `.files`
            ent = {
                r.file_path
                for r in t.entries_table().collect()
                if r.status != 2 and r.content == 0
            }
            files = {
                r.file_path for r in t.files_table().collect() if r.content == 0
            }
            assert ent == files, f"seed={seed} entries/files diverge after {op}"

    # time travel reproduces every recorded main-lineage state that is
    # still on the current lineage (overwrite/publish may have forked)
    meta = t._load()
    lineage = {s["snapshot_id"] for s in t._lineage(meta, t.latest_snapshot_id())}
    checked = 0
    for sid in sorted(set(states) & lineage):
        assert _scan_rows(t.scan_at(sid)) == _multiset(states[sid]), (
            f"seed={seed} time travel to {sid}"
        )
        # the format reader's VERSION AS OF must replay the same history
        assert _dsv2_rows(spark, t.root, snapshot_id=sid) == _multiset(
            states[sid]
        ), f"seed={seed} dsv2 time travel to {sid}"
        checked += 1
    # a mid-sequence aggressive expire_age may have trimmed history to
    # keep_last; at least the head must still replay
    assert checked >= 1  # the walk actually exercised history

    # expiration keeps the current state intact
    t.expire_snapshots(keep_last=2)
    assert _scan_rows(t.scan()) == _multiset(main)


def test_random_op_sequences_match_model(spark, tmp_path):
    """The bug-pinned seeds (default run): every seed here reproduced a
    real historical defect, so they are regression pins, not fuzz.
    The broader seed sweep is `test_random_op_sequences_sweep` (slow)."""
    # 3 and 71 are the seeds whose interleavings caught the branch-only
    # metadata-table crash and the expire-drops-rename-history bug
    for seed in (3, 71):
        _run_model(spark, tmp_path, seed)
    # 1213 caught the cross-spec partition-exclusion bug in the dsv2
    # reader (spec evolution between a dir's write and a maintain
    # rewrite left the masked rows readable as duplicates); 30 steps:
    # the interaction needs the longer sequence (evolve at step ~16,
    # maintain at ~17) to materialize
    _run_model(spark, tmp_path, 1213, steps=30)
    # 8080 caught the branch-schema divergence (branch writes validated
    # against the current schema while branch reads used the fork-point
    # schema — write→read did not round-trip once add/drop ops landed
    # between fork and branch write); 36 steps to reach the interleaving
    _run_model(spark, tmp_path, 8080, steps=36)


@pytest.mark.slow
def test_random_op_sequences_sweep(spark, tmp_path):
    """Exploratory seed sweep (no pinned bug behind these seeds) —
    deselected by default so the driver's verification run fits its
    window; run with `pytest -m slow`."""
    for seed in (7, 23, 41, 104):
        _run_model(spark, tmp_path, seed)
