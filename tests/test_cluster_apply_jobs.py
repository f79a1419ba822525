"""The cluster-tier CDC apply launches no Spark job that only moves data
the driver already holds.

A merge source built on the driver (labels_df frames and unions of them)
is read by value instead of checkpointed, unless its plan is
nondeterministic; an unpartitioned copy-on-write merge, DELETE or
UPDATE hands its plan straight to the staged write; and a CDC
micro-batch, mixed I/U/D, pure insert or pure delete, costs a flat
number of jobs once the label store carries delete files. Job counts are read with
`dagScheduler().nextJobId()`, under the drains' micro-batch confs (AQE
off: with AQE each shuffle stage is a job of its own).
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from emr_apache_iceberg_workshop_spark.operators.graph import labels_df
from emr_apache_iceberg_workshop_spark.operators.relational import merge_upsert
from emr_apache_iceberg_workshop_spark.plans import dedup
from emr_apache_iceberg_workshop_spark.plans.streamingq import _microbatch_confs
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable, _is_local

LABELS_DDL = "doc_id bigint, label bigint"
MOR = {"write.merge.mode": "merge-on-read"}


def _jobs(spark) -> int:
    return spark._jsc.sc().dagScheduler().nextJobId()


def _stage_tasks(spark, j0: int, j1: int) -> list:
    """Per job in [j0, j1): the task counts of the stages that ran, read
    from the status store once its listener caught up."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = sc.statusStore()
    out = []
    for job_id in range(j0, j1):
        stages = [store.lastStageAttempt(int(x)) for x in
                  str(store.job(job_id).stageIds().mkString(",")).split(",") if x]
        out.append([st.numTasks() for st in stages if st.numCompleteTasks() > 0])
    return out


def _head(t):
    return t.snapshot(t.latest_snapshot_id())


def _labels(t) -> list:
    return sorted((r.doc_id, r.label) for r in t.scan().collect())


def _label_table(spark, root) -> SnapshotTable:
    t = SnapshotTable.create(spark, root, LABELS_DDL, properties=dict(MOR))
    t.write(labels_df(spark, {i: i for i in range(10)}))
    return t


def test_local_frame_is_one_partition(spark):
    """Spark slices a LocalRelation into one task per core; a driver-held
    frame (`local_frame`, under `labels_df`) is one partition whatever
    its size."""
    assert labels_df(spark, {i: i for i in range(100)}).rdd.getNumPartitions() == 1


def test_mor_merge_of_local_union_runs_two_jobs(spark, tmp_path):
    """A Union of two labels_df frames is already materialized: the MOR
    merge runs the data write and the delete write, nothing else, each
    one task writing one file."""
    t = _label_table(spark, str(tmp_path / "labels"))
    cdc = (
        labels_df(spark, {1: 0, 2: 0, 11: 0})
        .withColumn("Op", F.lit("U"))
        .unionByName(
            labels_df(spark, {3: 3}).selectExpr(
                "doc_id", "CAST(NULL AS BIGINT) AS label", "'D' AS Op"
            )
        )
    )
    assert _is_local(cdc)
    with _microbatch_confs(spark):
        j0 = _jobs(spark)
        t.merge(cdc, keys=["doc_id"], op_col="Op")
        assert _stage_tasks(spark, j0, _jobs(spark)) == [[1], [1]]
    head = _head(t)
    assert len(head.files) == len(head.delete_file_stats) == 1
    assert head.delete_file_stats[0]["rows"] == 4
    want = {i: i for i in range(10)}
    want.update({1: 0, 2: 0, 11: 0})
    del want[3]
    assert _labels(t) == sorted(want.items())


def test_mor_merge_writes_checkpointed_keys_without_a_shuffle(spark, tmp_path):
    """A source that is not driver-held is checkpointed once, and its key
    column is the equality-delete file as is: one map-only stage writes
    one file of one row per source key, and the changelog of the commit
    is unchanged."""
    t = _label_table(spark, str(tmp_path / "labels"))
    prev = t.latest_snapshot_id()
    # a file scan, as a micro-batch reads; a `range` source would carry
    # its distinct keys through the checkpoint and hide a distinct
    path = str(tmp_path / "src")
    spark.range(5, 15).selectExpr("id AS doc_id", "id * 100 AS label").write.parquet(path)
    src = spark.read.schema(LABELS_DDL).parquet(path)
    assert not _is_local(src)
    with _microbatch_confs(spark):
        j0 = _jobs(spark)
        sid = t.merge(src, keys=["doc_id"])
        per_job = _stage_tasks(spark, j0, _jobs(spark))
    assert len(per_job) == 3 and all(len(stages) == 1 for stages in per_job), per_job
    head = _head(t)
    keys = spark.read.parquet(os.path.join(t.root, head.delete_file)).collect()
    assert sorted(r.doc_id for r in keys) == list(range(5, 15))
    assert [f["rows"] for f in head.delete_file_stats] == [10]
    got = sorted(
        (r._change_type, r.doc_id, r.label)
        for r in t.changes(prev, sid).collect()
    )
    assert got == sorted(
        [("delete", i, None) for i in range(5, 10)]
        + [("insert", i, i * 100) for i in range(5, 15)]
    )
    assert _labels(t) == [(i, i) for i in range(5)] + [(i, i * 100) for i in range(5, 15)]


def test_mor_merge_checkpoints_a_nondeterministic_local_plan(spark, tmp_path):
    """The optimizer folds rand() over a LocalRelation into literal rows,
    so only the analyzed plan shows it is nondeterministic: such a
    source is still checkpointed once, and the data rows and the
    delete keys come from that one evaluation."""
    t = _label_table(spark, str(tmp_path / "labels"))
    src = labels_df(spark, {i: 0 for i in range(20, 40)}).withColumn(
        "label", (F.rand() * 1000).cast("bigint")
    ).filter(F.col("label") % 2 == 0)
    assert not _is_local(src)
    with _microbatch_confs(spark):
        j0 = _jobs(spark)
        t.merge(src, keys=["doc_id"])
        assert _jobs(spark) - j0 == 3  # checkpoint, data write, delete write
    head = t._head(t._load())
    data = spark.read.parquet(os.path.join(t.root, head["dirs"][0]))
    keys = spark.read.parquet(os.path.join(t.root, head["delete_file"]))
    assert sorted(r.doc_id for r in data.collect()) == sorted(
        r.doc_id for r in keys.collect()
    )


def test_cow_merge_writes_the_plan_without_a_checkpoint(spark, tmp_path):
    """An unpartitioned copy-on-write merge evaluates its plan once, in
    write(): the same files as checkpoint-then-write, one job fewer."""
    ddl = "id bigint, category string, qty bigint"
    rows = [(i, f"c{i % 3}", i) for i in range(30)]
    batch = [(1, "c9", 100), (31, "c1", 31), (4, "c4", 400)]
    tables = []
    for tag in ("merge", "checkpoint"):
        t = SnapshotTable.create(spark, str(tmp_path / tag), ddl)
        t.write(spark.createDataFrame(rows, ddl).coalesce(1))
        tables.append(t)
    merged, ckpt = tables

    j0 = _jobs(spark)
    merged.merge(spark.createDataFrame(batch, ddl), keys=["id"])
    merge_jobs = _jobs(spark) - j0

    target = ckpt.scan()
    plan = merge_upsert(target, spark.createDataFrame(batch, ddl), ["id"])
    j0 = _jobs(spark)
    ckpt.write(
        plan.select(*target.columns).localCheckpoint(eager=True),
        mode="overwrite", operation="merge",
    )
    assert _jobs(spark) - j0 == merge_jobs + 1

    def files(t) -> list:
        out = os.path.join(t.root, t._head(t._load())["dirs"][0])
        return sorted(
            hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        )

    assert files(merged) == files(ckpt)
    assert sorted(map(tuple, merged.scan().collect())) == sorted(
        map(tuple, ckpt.scan().collect())
    )


def _head_file_hashes(t) -> list:
    out = os.path.join(t.root, t._head(t._load())["dirs"][0])
    return sorted(
        hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for d, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("op", ["delete", "update"])
def test_cow_delete_update_write_the_plan_without_a_checkpoint(spark, tmp_path, op):
    """An unpartitioned copy-on-write DELETE or UPDATE evaluates its plan
    once, in write(): one job, the same files as checkpoint-then-write,
    which takes one job more."""
    ddl = "id bigint, category string, qty bigint"
    rows = [(i, f"c{i % 3}", i) for i in range(30)]
    tables = []
    for tag in ("dml", "checkpoint"):
        t = SnapshotTable.create(spark, str(tmp_path / tag), ddl)
        t.write(spark.createDataFrame(rows, ddl).coalesce(1))
        tables.append(t)
    dml, ckpt = tables

    j0 = _jobs(spark)
    if op == "delete":
        dml.delete_where("qty < 5")
    else:
        dml.update_where("id = 7", {"qty": "qty * 10"})
    dml_jobs = _jobs(spark) - j0
    assert dml_jobs == 1

    target = ckpt.scan()
    if op == "delete":
        plan = target.filter(~F.coalesce(F.expr("qty < 5"), F.lit(False)))
    else:
        plan = target.withColumn("qty", F.when(F.expr("id = 7"), F.expr("qty * 10"))
                                 .otherwise(F.col("qty")))
    j0 = _jobs(spark)
    ckpt.write(plan.localCheckpoint(eager=True), mode="overwrite", operation=op)
    assert _jobs(spark) - j0 == dml_jobs + 1
    assert _head_file_hashes(dml) == _head_file_hashes(ckpt)
    assert sorted(map(tuple, dml.scan().collect())) == sorted(
        map(tuple, ckpt.scan().collect())
    )


_BASE = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu",
    "red orange yellow green blue indigo violet black white grey brown pink",
    "one two three four five six seven eight nine ten eleven twelve thirteen",
    "north south east west up down left right inside outside over under",
]


def _doc(family: int, variant: int) -> str:
    return f"{_BASE[family]} {_BASE[family]} tail{variant}"


def _batch_rows(shape: str, b: int) -> list:
    inserts = [
        ("I", 100 + 10 * b + v, _doc(b % 2 + 1, 10 * b + v)) for v in range(3)
    ]
    if shape == "insert":
        return inserts
    if shape == "delete":
        return [("D", b, None), ("D", 30 + b, None)]
    return inserts + [("U", b, _doc(0, 20 + b)), ("D", 30 + b, None)]


# shape -> (job budget per steady-state batch, docs stored after 3 batches)
_SHAPES = {
    "mixed": (14, 16 + 9 - 3),
    "insert": (14, 16 + 9),
    "delete": (11, 16 - 6),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_mixed_cdc_apply_job_budget(spark, tmp_path, shape):
    """One CDC batch against a store with prior merges launches no more
    jobs than its budget, and the same number at the 2nd and 3rd batch.
    The mixed batch inserts near copies into a component it does not
    otherwise touch (so the star-edge probe runs), updates a doc of a
    second component and deletes a doc of a third; the pure-insert
    batch is its three inserts, the pure-delete batch deletes the
    updated and the deleted doc."""
    corpus = spark.createDataFrame(
        [(f * 10 + v, _doc(f, v)) for f in range(4) for v in range(4)],
        "doc_id bigint, text string",
    )
    dedup.build_signature_store(spark, corpus, str(tmp_path / "sigs"))
    sig = SnapshotTable(spark, str(tmp_path / "sigs"))
    lab = dedup.build_label_store(spark, sig, str(tmp_path / "labels"))

    schema = "Op string, doc_id bigint, text string"
    counts = []
    with _microbatch_confs(spark):
        for b in range(3):
            path = str(tmp_path / f"batch{b}")
            spark.createDataFrame(_batch_rows(shape, b), schema).coalesce(1).write.parquet(path)
            bdf = spark.read.schema(schema).parquet(path)
            j0 = _jobs(spark)
            dedup.apply_cdc_batch_clusters(spark, bdf, sig, lab)
            counts.append(_jobs(spark) - j0)
    budget, stored = _SHAPES[shape]
    assert counts[1] == counts[2] <= budget, counts
    assert lab.scan().count() == sig.scan().count() == stored
