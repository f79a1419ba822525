"""Every table mutation commits through one snapshot-record helper and
one of two kernels: the merge-on-read delta commit (MOR merge, DELETE,
UPDATE, `delete_keys`) and the partition-scoped rewrite (COW merge,
DELETE, UPDATE, `maintain`, `overwrite_partitions`).

Pinned here: each mutation's Spark job budget on a partitioned and an
unpartitioned table (`tools/mutation_probe.py` holds the cases; the
budgets are the counts measured before the kernels were shared, the
unpartitioned COW DELETE/UPDATE one job lower since they write their
plan without a checkpoint), UPDATE semantics that must agree across the
write modes, that a partition-scoped rewrite commits against the state
it scanned, and the scoped session-conf helper.
"""

from __future__ import annotations

import pytest

from emr_apache_iceberg_workshop_spark.session import scoped_confs
from emr_apache_iceberg_workshop_spark.tables import CommitConflict, SnapshotTable
from tools.mutation_probe import CASES, DDL as PROBE_DDL, base_table, make_table, run_case

# case -> (unpartitioned, partitioned) job budget
_BUDGET = {
    "cow_merge": (3, 13),
    "cow_merge_op": (3, 13),
    "cow_delete": (1, 5),  # unpartitioned: 2 with checkpoint-then-write
    "cow_update": (1, 5),  # unpartitioned: 2 with checkpoint-then-write
    "overwrite_partitions": (1, 5),
    "mor_merge": (4, 4),
    "mor_merge_op": (4, 4),
    "mor_delete_eq": (2, 2),
    "mor_delete_pos": (1, 1),
    "mor_update_eq": (4, 4),
    "mor_update_pos": (4, 4),
    "delete_keys": (2, 2),
    "maintain": (2, 6),
    "cow_merge_capped": (3, 20),
    "cow_delete_capped": (1, 9),
    "overwrite_partitions_capped": (1, 8),
    "overwrite_partitions_empty": (1, 3),
    "evolve_schema": (0, 0),
    "rename_column": (0, 0),
    "evolve_partition_spec": (0, 0),
    "branch_cherry_pick": (1, 1),
    "stamped_append": (1, 1),
}


# beyond the one-mutation-per-path matrix: the capped (mask-file) and
# empty rewrites and the metadata-only / ref commits run under -m slow
_SLOW = {
    "cow_merge_capped", "cow_delete_capped", "overwrite_partitions_capped",
    "overwrite_partitions_empty", "evolve_schema", "rename_column",
    "evolve_partition_spec", "branch_cherry_pick", "stamped_append",
}


def test_every_probe_case_has_a_budget():
    assert set(_BUDGET) == set(CASES)


@pytest.fixture(scope="module")
def base_tables(spark, tmp_path_factory) -> dict:
    root = tmp_path_factory.mktemp("mutation_base")
    return {p: base_table(spark, str(root / str(p)), p).root for p in (False, True)}


@pytest.mark.parametrize("partitioned", [False, True], ids=["unpartitioned", "partitioned"])
@pytest.mark.parametrize(
    "case",
    [pytest.param(c, marks=pytest.mark.slow) if c in _SLOW else c for c in sorted(CASES)],
)
def test_mutation_job_budget(spark, tmp_path, base_tables, case, partitioned):
    """One mutation of a 30-row table commits a new main snapshot and
    runs no more Spark jobs than its budget (the session's AQE is on, so
    every shuffle stage is a job of its own)."""
    t = make_table(spark, str(tmp_path / "t"), case, partitioned, base_tables[partitioned])
    jobs = run_case(spark, t, case)
    assert t.latest_snapshot_id() > 2
    assert jobs <= _BUDGET[case][partitioned], jobs


DDL = "id bigint, qty bigint"
ROWS = [(1, 10), (2, 20), (3, 30)]
_MOR_UPDATE = {"write.update.mode": "merge-on-read"}


def _updated(spark, root, props, assignments) -> list:
    t = SnapshotTable.create(spark, root, DDL, properties=props)
    t.write(spark.createDataFrame(ROWS, DDL))
    t.update_where("id = 1", assignments, keys=["id"])
    return sorted(map(tuple, t.scan().collect()))


@pytest.mark.parametrize("style", ["equality", "position"])
@pytest.mark.parametrize(
    "assignments, want",
    [
        ({"id": "id + 100"}, [(2, 20), (3, 30), (101, 10)]),
        # the new key is already held by an untouched row, which stays
        ({"id": "2"}, [(2, 10), (2, 20), (3, 30)]),
    ],
    ids=["moved-key", "taken-key"],
)
def test_mor_update_assigning_a_key_equals_cow(spark, tmp_path, style, assignments, want):
    """A merge-on-read UPDATE that assigns a key column deletes the
    matching rows' pre-image keys: the state equals the copy-on-write
    state. (An equality delete of the post-image keys kept the old row
    and deleted the untouched row that held the new key.)"""
    cow = _updated(spark, str(tmp_path / "cow"), {}, assignments)
    mor = _updated(
        spark, str(tmp_path / "mor"),
        {**_MOR_UPDATE, "write.delete.style": style}, assignments,
    )
    assert cow == want
    assert mor == cow


@pytest.mark.parametrize("props", [{}, _MOR_UPDATE], ids=["cow", "mor"])
def test_update_assignments_read_the_pre_image(spark, tmp_path, props):
    """Every assignment is evaluated on the matching row as it was, as
    in SQL: assigning the predicate's column first does not stop the
    second assignment, and `qty + id` reads the old id."""
    got = _updated(
        spark, str(tmp_path / "t"), props, {"id": "id + 100", "qty": "qty + id"}
    )
    assert got == [(2, 20), (3, 30), (101, 11)]


def test_empty_overwrite_is_a_metadata_only_commit(spark, tmp_path, base_tables):
    """An empty dynamic overwrite of a partitioned table commits the
    rewrite kernel's no-op record: no data dir, the active set as it
    was, zero partitions replaced."""
    t = make_table(
        spark, str(tmp_path / "t"), "overwrite_partitions_empty", True, base_tables[True]
    )
    before = t._head(t._load())
    run_case(spark, t, "overwrite_partitions_empty")
    head = t._head(t._load())
    assert head["dirs"] == [] and head["active_dirs"] == before["active_dirs"]
    assert head["operation"] == "dynamic-overwrite"
    assert head["summary"]["replaced_partitions"] == 0


# one appended row per partition: every rewrite touches at least one
_RACING_ROWS = [(97, "c0", 97), (98, "c1", 98), (99, "c2", 99)]


@pytest.mark.parametrize(
    "case, partitioned",
    [("cow_merge", False), ("cow_merge", True), ("overwrite_partitions", True)]
    # the same kernel entry as the partitioned merge
    + [pytest.param(c, True, marks=pytest.mark.slow)
       for c in ("cow_delete", "cow_update", "maintain")],
)
def test_rewrite_keeps_an_append_that_lands_after_its_scan(
    spark, tmp_path, base_tables, monkeypatch, case, partitioned
):
    """A second handle appends while a copy-on-write rewrite runs, after
    the rewrite has built its target scan and before it commits. The
    rewrite must commit against the state it scanned: it refuses with
    CommitConflict (or commits), and the appended rows are never masked
    or overwritten away."""
    t = make_table(spark, str(tmp_path / "t"), case, partitioned, base_tables[partitioned])
    other = SnapshotTable(spark, t.root)
    rewrite = SnapshotTable._rewrite_partitions

    def racing(self, *args, **kwargs):
        other.write(spark.createDataFrame(_RACING_ROWS, PROBE_DDL))
        return rewrite(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_rewrite_partitions", racing)
    try:
        CASES[case][1](spark, t)
    except CommitConflict:
        pass
    monkeypatch.undo()
    state = set(map(tuple, SnapshotTable(spark, t.root).scan().collect()))
    assert set(_RACING_ROWS) <= state


def test_scoped_confs_restore_on_error(spark):
    """Inside the scope both confs hold the scoped values; after an
    exception a key that had a value has it again and a key that was
    unset is unset again."""
    had, unset = "spark.sql.adaptive.enabled", "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(had)
    assert spark.conf.get(unset, None) is None
    flipped = "false" if before == "true" else "true"
    with pytest.raises(RuntimeError, match="inside"):
        with scoped_confs(spark, {had: flipped, unset: "7"}):
            assert spark.conf.get(had) == flipped
            assert spark.conf.get(unset) == "7"
            raise RuntimeError("inside the scope")
    assert spark.conf.get(had) == before
    assert spark.conf.get(unset, None) is None
