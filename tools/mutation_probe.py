"""Spark jobs and snapshot records of every table mutation path.

Usage:
    python tools/mutation_probe.py run OUT.json
    python tools/mutation_probe.py diff BEFORE.json AFTER.json

`run` builds a 30-row table (`id bigint, category string, qty bigint`,
two appends) per case, partitioned by `category` and unpartitioned,
applies one mutation and records the Spark jobs it launched
(`dagScheduler().nextJobId()` diff under the engine's session settings:
AQE on, so each shuffle stage is a job of its own), the table's state,
and every snapshot record of its `_meta.json` normalized by `records`.
Runs on `local[4]` with 4 shuffle partitions. `diff` prints the job
table (before → after) and every case whose normalized records differ.

The case table (`CASES`) is shared with `tests/test_mutation_kernel.py`,
which pins each case's job budget.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DDL = "id bigint, category string, qty bigint"
ROWS = [(i, f"c{i % 3}", i) for i in range(30)]
OPS_DDL = DDL + ", Op string"

_MOR_MERGE = {"write.merge.mode": "merge-on-read"}
_MOR_DELETE = {"write.delete.mode": "merge-on-read"}
_MOR_UPDATE = {"write.update.mode": "merge-on-read"}
_POSITION = {"write.delete.style": "position"}
_CAPPED = {"write.cow.scope-cap": "1"}


def _batch(spark):
    # moves id 1 from c1 to c2, inserts 31 and updates 4 in place
    return spark.createDataFrame([(1, "c2", 100), (31, "c1", 31), (4, "c1", 400)], DDL)


def _op_batch(spark):
    return spark.createDataFrame(
        [(1, "c2", 100, "U"), (31, "c1", 31, "I"), (5, "c2", None, "D")], OPS_DDL
    )


# case -> (table properties, mutation)
CASES = {
    "cow_merge": ({}, lambda s, t: t.merge(_batch(s), keys=["id"])),
    "cow_merge_op": ({}, lambda s, t: t.merge(_op_batch(s), keys=["id"], op_col="Op")),
    "cow_delete": ({}, lambda s, t: t.delete_where("qty < 5")),
    "cow_update": ({}, lambda s, t: t.update_where("id = 7", {"qty": "qty * 10"})),
    "overwrite_partitions": ({}, lambda s, t: t.overwrite_partitions(
        s.createDataFrame([(100, "c0", 1), (101, "c0", 2)], DDL))),
    "mor_merge": (_MOR_MERGE, lambda s, t: t.merge(_batch(s), keys=["id"])),
    "mor_merge_op": (_MOR_MERGE, lambda s, t: t.merge(
        _op_batch(s), keys=["id"], op_col="Op")),
    "mor_delete_eq": (_MOR_DELETE, lambda s, t: t.delete_where("qty < 5", keys=["id"])),
    "mor_delete_pos": ({**_MOR_DELETE, **_POSITION},
                       lambda s, t: t.delete_where("qty < 5")),
    "mor_update_eq": (_MOR_UPDATE, lambda s, t: t.update_where(
        "id = 7", {"qty": "qty * 10"}, keys=["id"])),
    "mor_update_pos": ({**_MOR_UPDATE, **_POSITION},
                       lambda s, t: t.update_where("id = 7", {"qty": "qty * 10"})),
    "delete_keys": ({}, lambda s, t: t.delete_keys(
        s.createDataFrame([(1,), (2,), (99,)], "id bigint"), ["id"])),
    "maintain": ({}, lambda s, t: t.maintain(max_files_per_partition=1)),
    # above the scope cap the touched set is a mask file, not inline tuples
    "cow_merge_capped": (_CAPPED, lambda s, t: t.merge(_batch(s), keys=["id"])),
    "cow_delete_capped": (_CAPPED, lambda s, t: t.delete_where("qty < 5")),
    "overwrite_partitions_capped": (_CAPPED, lambda s, t: t.overwrite_partitions(
        s.createDataFrame([(100, "c0", 1), (101, "c1", 2)], DDL))),
    "overwrite_partitions_empty": ({}, lambda s, t: t.overwrite_partitions(
        s.createDataFrame([], DDL))),
    # metadata-only and ref commits share the snapshot-record helper
    "evolve_schema": ({}, lambda s, t: t.evolve_schema(add={"note": "string"})),
    "rename_column": ({}, lambda s, t: t.rename_column("qty", "amount")),
    "evolve_partition_spec": ({}, lambda s, t: t.evolve_partition_spec(["bucket(2, id)"])),
    "branch_cherry_pick": ({}, lambda s, t: t.cherry_pick_snapshot(t.write(
        s.createDataFrame([(40, "c1", 40)], DDL), branch="audit"))),
    "stamped_append": ({}, lambda s, t: t.write(
        s.createDataFrame([(41, "c2", 41)], DDL),
        summary_extra={"streaming.batch-id": "7", "streaming.query-scope": "q"})),
}


def base_table(spark, root: str, partitioned: bool):
    """24 rows, then 6 more, each append one file per partition."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(
        spark, root, DDL, partition_by=["category"] if partitioned else None,
        clock=iter(range(1, 10**6)).__next__,
    )
    t.write(spark.createDataFrame(ROWS[:24], DDL).coalesce(1))
    t.write(spark.createDataFrame(ROWS[24:], DDL).coalesce(1))
    return t


def make_table(spark, root: str, case: str, partitioned: bool, base: str | None = None):
    """The case's table: a `base_table`, built at `root` or hardlink-cloned
    there from the one at `base`, with the case's properties set."""
    from emr_apache_iceberg_workshop_spark.catalog import clone_store
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    if base is None:
        t = base_table(spark, root, partitioned)
    else:
        clone_store(base, root)
        t = SnapshotTable(spark, root)
    if CASES[case][0]:
        t.set_properties(CASES[case][0])
    return t


def run_case(spark, t, case: str) -> int:
    """Apply the case's mutation to `t`; returns the Spark jobs it ran."""
    jobs = spark._jsc.sc().dagScheduler().nextJobId
    j0 = jobs()
    CASES[case][1](spark, t)
    return jobs() - j0


# a Spark-generated data file name: the task number and the uuid both
# vary run to run (equal-sized input files are split in name order)
_GENERATED = re.compile(
    r"part-\d+-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}[^\"/]*"
)


def records(root: str) -> list:
    """The table's snapshot records, normalized for comparison:
    `made_current_at` dropped, generated file names replaced by
    `<file>` and each manifest list sorted. A positional delete file
    stores data file names, so its byte size is dropped too. The last
    entry holds the table's properties (the streaming replay guard
    lives there) and branch refs."""
    with open(os.path.join(root, "_meta.json")) as f:
        meta = json.load(f)
    out = []
    for s in meta["snapshots"]:
        s = {k: v for k, v in s.items() if k != "made_current_at"}
        s = json.loads(_GENERATED.sub("<file>", json.dumps(s)))
        for key in ("files", "delete_file_stats"):
            for f in s.get(key) or []:
                if "file_rel" in f.get("bounds", {}):
                    del f["bytes"]
            if key in s:
                s[key] = sorted(s[key], key=lambda f: json.dumps(f, sort_keys=True))
        out.append(s)
    out.append({"properties": meta.get("properties"), "branches": meta.get("branches")})
    return out


def run(out_path: str) -> None:
    from emr_apache_iceberg_workshop_spark.session import build_session

    spark = build_session(
        "eiws-mutation-probe", master="local[4]", shuffle_partitions=4,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    result = {}
    with tempfile.TemporaryDirectory() as tmp:
        for case in CASES:
            for partitioned in (False, True):
                name = f"{case}/{'partitioned' if partitioned else 'unpartitioned'}"
                root = os.path.join(tmp, name.replace("/", "-"))
                t = make_table(spark, root, case, partitioned)
                jobs = run_case(spark, t, case)
                state = sorted(map(tuple, t.scan().collect()), key=repr)
                result[name] = {"jobs": jobs, "state": [list(r) for r in state],
                                "records": records(root)}
                print(f"{name}: {jobs} jobs", flush=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()


def diff(before_path: str, after_path: str) -> int:
    with open(before_path) as f:
        before = json.load(f)
    with open(after_path) as f:
        after = json.load(f)
    print("| case | jobs before | jobs after | records | state |")
    print("|---|---|---|---|---|")
    differ = []
    for name in before:
        b, a = before[name], after[name]
        same_rec = b["records"] == a["records"]
        if not same_rec:
            differ.append(name)
        print(f"| {name} | {b['jobs']} | {a['jobs']} | "
              f"{'equal' if same_rec else 'DIFFER'} | "
              f"{'equal' if b['state'] == a['state'] else 'DIFFER'} |")
    for name in differ:
        b, a = before[name]["records"], after[name]["records"]
        print(f"\n## {name}")
        for i in range(max(len(b), len(a))):
            rb = b[i] if i < len(b) else None
            ra = a[i] if i < len(a) else None
            if rb == ra:
                continue
            keys = sorted(set(rb or {}) | set(ra or {}))
            for k in keys:
                vb = (rb or {}).get(k, "<absent>")
                va = (ra or {}).get(k, "<absent>")
                if vb != va:
                    print(f"snapshot {i + 1} {k}:\n  before {json.dumps(vb)}\n"
                          f"  after  {json.dumps(va)}")
    return 0


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "run":
        run(sys.argv[2])
        return 0
    if len(sys.argv) == 4 and sys.argv[1] == "diff":
        return diff(sys.argv[2], sys.argv[3])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
