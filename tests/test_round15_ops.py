"""Round-15 tests: the q_ntile_deciles single-partition global window is
gone (r14 VERDICT What's-wrong #1 — `Window.orderBy(spend)` planned
`Exchange SinglePartition → Sort → Window` over every customer), replaced
by the two-phase range-partitioned rank in `_ntile_buckets`, and the
explain audit now carries a lint (What's-wrong #2) that hard-fails any
`Exchange SinglePartition` feeding a Window without a boundedness proof.

Reference parity note: the reference repo (soumilshah1995/
emr-apache-iceberg-workshop) has no window-profiling tier; this guards
the engine's own NTILE machinery (plans/profiling.py) and the audit gate
(tools/explain_audit.py).
"""

from __future__ import annotations

import io
import os
import random
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)


@pytest.fixture(scope="module")
def spark():
    from emr_apache_iceberg_workshop_spark.session import build_session

    return build_session()


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _naive_ntile(df, keys, k):
    from pyspark.sql import Window, functions as F

    w = Window.orderBy(*keys)
    return df.withColumn("decile", F.ntile(k).over(w).cast("long"))


# ---------------------------------------------------------------------------
# the lint


def test_sp_window_lint_fires_on_prefix_ntile_plan(spark):
    """The exact plan shape that shipped for fourteen rounds — a global
    NTILE window — must now FAIL the audit lint for any non-allowlisted
    query name."""
    from explain_audit import lint_single_partition_window

    df = spark.range(100).selectExpr("id AS o_custkey", "CAST(id AS DOUBLE) AS spend")
    plan = _plan_text(_naive_ntile(df, ("spend", "o_custkey"), 10))
    notes = lint_single_partition_window("q_some_new_query", plan)
    assert any(n.startswith("FAIL sp-window") for n in notes), notes


def test_sp_window_lint_allowlist_requires_proof(spark):
    """The same plan under an allowlisted name gets the bounded OK note —
    and every allowlist entry carries a human-readable proof string."""
    from explain_audit import SINGLE_PARTITION_WINDOW_OK, lint_single_partition_window

    df = spark.range(100).selectExpr("id AS o_custkey", "CAST(id AS DOUBLE) AS spend")
    plan = _plan_text(_naive_ntile(df, ("spend", "o_custkey"), 10))
    notes = lint_single_partition_window("t_ccnet_buckets", plan)
    assert notes and all(n.startswith("OK bounded") for n in notes), notes
    for name, proof in SINGLE_PARTITION_WINDOW_OK.items():
        assert isinstance(proof, str) and len(proof) > 10, name


def test_sp_window_lint_passes_partitioned_window(spark):
    """A window partitioned on a real key never plans SinglePartition —
    the lint must stay silent."""
    from pyspark.sql import Window, functions as F

    from explain_audit import lint_single_partition_window

    df = spark.range(100).selectExpr("id % 7 AS k", "id AS v")
    w = Window.partitionBy("k").orderBy("v")
    plan = _plan_text(df.withColumn("rn", F.row_number().over(w)))
    assert lint_single_partition_window("anything", plan) == []


@pytest.mark.parametrize("qname", ["t_ccnet_buckets", "c_quality_funnel"])
def test_allowlisted_sp_window_queries_have_exactly_one(spark, qname):
    """Backstop for the name-keyed allowlist (review r15): each
    allowlisted query's plan must contain AT MOST the one known bounded
    single-partition window — if a future edit adds an unbounded second
    one, the lint under a fake name counts two and this fails even
    though the allowlist would mask it in the audit."""
    from emr_apache_iceberg_workshop_spark.plans.registry import registry

    from explain_audit import lint_single_partition_window

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan_text(registry()[qname].fn(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    fails = [
        n
        for n in lint_single_partition_window("not_allowlisted", plan)
        if n.startswith("FAIL sp-window")
    ]
    assert len(fails) <= 1, fails


def test_registered_ntile_plan_has_no_unbounded_sp_window(spark):
    """q_ntile_deciles' shipped plan: the ONLY single-partition window is
    the P-row offset relation (allowlisted); under a non-allowlisted name
    the same plan must not fire on the big per-customer window."""
    from emr_apache_iceberg_workshop_spark.plans.registry import registry

    from explain_audit import lint_single_partition_window

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry()["q_ntile_deciles"].fn(spark, "/root/testdata/sf0.001")
        plan = _plan_text(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    notes = lint_single_partition_window("q_ntile_deciles", plan)
    assert notes and all(n.startswith("OK bounded") for n in notes), notes
    # the per-customer ranking window itself is partitioned (by _pid):
    # stripping the allowlist must only expose the bounded P-row window,
    # which we accept here by counting FAIL notes — exactly the one
    # bounded offset window may fire, never two (big window + offsets).
    fails = [
        n
        for n in lint_single_partition_window("not_allowlisted", plan)
        if n.startswith("FAIL sp-window")
    ]
    assert len(fails) <= 1, fails


# ---------------------------------------------------------------------------
# ntile parity


@pytest.mark.parametrize("n,k", [(0, 10), (1, 10), (4, 10), (37, 10), (503, 10), (100, 7)])
def test_ntile_buckets_matches_sql_ntile(spark, n, k):
    """_ntile_buckets reproduces SQL NTILE(k) exactly — including the
    first-(n%k)-buckets-get-one-extra sizing and tie-breaking by the full
    key tuple — on tie-heavy random data and on n < k."""
    from emr_apache_iceberg_workshop_spark.plans.profiling import _ntile_buckets

    rng = random.Random(42 + n + k)
    rows = [(i, float(rng.choice([10, 20, 30, 40]))) for i in range(n)]
    df = spark.createDataFrame(rows, "o_custkey int, spend double")
    got = {
        r["o_custkey"]: r["decile"]
        for r in _ntile_buckets(spark, df, ("spend", "o_custkey"), k).collect()
    }
    exp = {
        r["o_custkey"]: r["decile"]
        for r in _naive_ntile(df, ("spend", "o_custkey"), k).collect()
    }
    assert got == exp


def test_compact_partitioned_emits_one_file_per_partition(spark, tmp_path):
    """compact() on a PARTITIONED table must cluster rows by the
    partition key before the write — the previous bare coalesce(n)
    interleaved partitions across n tasks and the partitioned write then
    emitted n x P files, a compaction that INCREASED the file count
    (measured r15 on the cluster-partitioned semantic store)."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(
        spark, str(tmp_path / "pc"), "id bigint, v string, part string",
        partition_by=["part"],
    )
    # three commits x three partitions -> >=9 live files pre-compaction
    for k in range(3):
        t.write(
            spark.createDataFrame(
                [(k * 10 + i, f"v{i}", f"p{i % 3}") for i in range(9)],
                "id bigint, v string, part string",
            )
        )
    before = {tuple(sorted(f["partition"].items())) for _r, f in t._live_files()}
    n_before = len(t._live_files())
    assert n_before >= 9
    pre = {tuple(r) for r in t.scan().collect()}
    t.compact()
    live = t._live_files()
    per_part: dict = {}
    for _rel, f in live:
        key = tuple(sorted(f["partition"].items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert set(per_part) == before
    assert all(c == 1 for c in per_part.values()), per_part
    assert {tuple(r) for r in t.scan().collect()} == pre


# ---------------------------------------------------------------------------
# ADVICE r14 regressions


def test_clone_store_skips_commit_lock(spark, tmp_path):
    """A `.commit.lock` orphaned by a crashed fixture build must NOT be
    hardlinked into clones — each clone would inherit the stale lock and
    pay the stale-lock-break wait on its first commit (ADVICE r14)."""
    from emr_apache_iceberg_workshop_spark.catalog import clone_store
    from emr_apache_iceberg_workshop_spark.tables import _LOCK, SnapshotTable

    src = str(tmp_path / "src")
    t = SnapshotTable.create(spark, src, "k bigint, v string")
    t.write(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    (tmp_path / "src" / _LOCK).write_text("orphan")
    dst = str(tmp_path / "dst")
    clone_store(src, dst)
    assert not os.path.exists(os.path.join(dst, _LOCK))
    # the clone commits immediately (no stale-lock wait) and src is intact
    t2 = SnapshotTable(spark, dst)
    t2.write(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert t2.scan().count() == 2
    assert t.scan().count() == 1


def test_call_apply_cdc_clusters_facade_parity(spark, tmp_path):
    """CALL system.apply_cdc_clusters must land the exact label state the
    library call lands, and return it."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _LABELS_DDL,
        _SIG_DDL,
        apply_cdc_batch_clusters,
    )
    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    base = (
        "the quick brown fox jumps over the lazy dog and runs into the "
        "deep dark forest looking for interesting things"
    )
    b0 = [("I", i, f"{base} tail{i % 3}") for i in range(12)]
    b1 = [("U", 0, f"{base} updated")] + [("D", 3, None)] + [
        ("I", 20 + i, f"{base} tail{i % 3}") for i in range(4)
    ]
    cat = SqlCatalog(spark)
    roots = {}
    for tag in ("f", "l"):
        sig = SnapshotTable.create(
            spark, str(tmp_path / f"{tag}_sigs"), _SIG_DDL,
            properties={"write.merge.mode": "merge-on-read"},
        )
        lab = SnapshotTable.create(
            spark, str(tmp_path / f"{tag}_labels"), _LABELS_DDL,
            properties={"write.merge.mode": "merge-on-read"},
        )
        roots[tag] = (sig, lab)
    ddl = "Op string, doc_id bigint, text string"
    cat.register("f_sigs", str(tmp_path / "f_sigs"))
    cat.register("f_labels", str(tmp_path / "f_labels"))
    got = None
    for batch in (b0, b1):
        spark.createDataFrame(batch, ddl).createOrReplaceTempView("cdc_b")
        got = cat.sql(
            "CALL system.apply_cdc_clusters('f_sigs', source => 'cdc_b', "
            "labels => 'f_labels')"
        )
        apply_cdc_batch_clusters(
            spark, spark.createDataFrame(batch, ddl), *roots["l"]
        )
    want = roots["l"][1].scan().select("doc_id", "label")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="apply_cdc_clusters requires"):
        cat.sql("CALL system.apply_cdc_clusters('f_sigs', source => 'cdc_b')")


# ---------------------------------------------------------------------------
# r15 cluster-fold fast paths


def _mk_stores(spark, tmp_path, tag):
    from emr_apache_iceberg_workshop_spark.plans.dedup import _LABELS_DDL, _SIG_DDL
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    sig = SnapshotTable.create(
        spark, str(tmp_path / f"{tag}_sigs"), _SIG_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    lab = SnapshotTable.create(
        spark, str(tmp_path / f"{tag}_labels"), _LABELS_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    return sig, lab


def _cdc_batches(spark):
    """Deterministic 3-batch I/U/D feed over synthetic near-dup texts."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest looking for more interesting things to do"
    )
    rows0 = [(i, f"{base} tail{i % 7}") for i in range(0, 40)]
    rows1_i = [(i, f"{base} tail{i % 7}") for i in range(40, 60)]
    rows1_u = [(i, f"{base} updated tail{i % 5}") for i in range(0, 40, 4)]
    rows2_d = [(i,) for i in range(0, 60, 6)]
    b0 = spark.createDataFrame(
        [("I", i, t) for i, t in rows0], "Op string, doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [("I", i, t) for i, t in rows1_i] + [("U", i, t) for i, t in rows1_u],
        "Op string, doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [("D", i, None) for (i,) in rows2_d], "Op string, doc_id bigint, text string"
    )
    return [b0, b1, b2]


def _drain(spark, batches, sig, lab, fused: bool):
    from pyspark.sql import functions as F

    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        apply_cdc_batch_clusters,
        fold_batch_clusters,
        retract_batch_clusters,
    )

    for b in batches:
        if fused:
            apply_cdc_batch_clusters(spark, b, sig, lab)
        else:
            dels = b.filter(F.col("Op").isin("D", "U")).select("doc_id")
            if dels.count():
                retract_batch_clusters(spark, dels, sig, lab)
            ups = b.filter(F.col("Op").isin("I", "U")).select("doc_id", "text")
            if ups.count():
                fold_batch_clusters(spark, ups, sig, lab, append=True)
    return {
        (r["doc_id"], r["label"])
        for r in lab.scan().select("doc_id", "label").collect()
    }


def test_fused_cdc_apply_equals_unfused_sequence(spark, tmp_path):
    """A mixed batch through apply_cdc_batch_clusters must land the exact
    label and signature state of its D part (retract_batch_clusters)
    followed by its I ∪ U part (fold_batch_clusters) across an I/U/D
    lifecycle."""
    s1, l1 = _mk_stores(spark, tmp_path, "fused")
    s2, l2 = _mk_stores(spark, tmp_path, "unfused")
    got = _drain(spark, _cdc_batches(spark), s1, l1, fused=True)
    exp = _drain(spark, _cdc_batches(spark), s2, l2, fused=False)
    assert got == exp and got
    # signature stores agree too (same survivor/new-signature content)
    sig1 = {tuple(r) for r in s1.scan().collect()}
    sig2 = {tuple(r) for r in s2.scan().collect()}
    assert sig1 == sig2


def test_fused_cdc_apply_fallback_matches_fast(spark, tmp_path, monkeypatch):
    """Forcing every probe over the cap (cap=0) must route through the
    distributed fallbacks and still produce the identical state."""
    import emr_apache_iceberg_workshop_spark.plans.dedup as D

    s1, l1 = _mk_stores(spark, tmp_path, "fast")
    got = _drain(spark, _cdc_batches(spark), s1, l1, fused=True)
    monkeypatch.setattr(D, "_CLUSTER_LOCAL_MAX", 0)
    s2, l2 = _mk_stores(spark, tmp_path, "slow")
    exp = _drain(spark, _cdc_batches(spark), s2, l2, fused=True)
    assert got == exp and got

    # Only ONE leg of the fused ops/signature probe overflows: 12 I + 4 U
    # + 8 D rows are 24 op rows but 16 signature rows, so at cap 20 the
    # union (40 rows) fits the probe's 2×cap while the op leg does not.
    # The batch must still take the kernel's distributed fallback.
    seed = _cdc_batches(spark)[0]
    base = "the quick brown fox jumps over the lazy dog and then runs far away"
    mixed = spark.createDataFrame(
        [("I", i, f"{base} new{i % 3}") for i in range(40, 52)]
        + [("U", i, f"{base} moved{i}") for i in (0, 4, 8, 12)]
        + [("D", i, None) for i in (1, 2, 3, 5, 6, 7, 9, 10)],
        "Op string, doc_id bigint, text string",
    )
    fallbacks = []
    distributed = D._cluster_cdc_distributed

    def spy(*args, **kwargs):
        fallbacks.append(True)
        return distributed(*args, **kwargs)

    monkeypatch.setattr(D, "_cluster_cdc_distributed", spy)
    states = []
    for tag, cap in (("leg_fast", 100_000), ("leg_gated", 20)):
        monkeypatch.setattr(D, "_CLUSTER_LOCAL_MAX", 100_000)
        sig, lab = _mk_stores(spark, tmp_path, tag)
        D.apply_cdc_batch_clusters(spark, seed, sig, lab)
        monkeypatch.setattr(D, "_CLUSTER_LOCAL_MAX", cap)
        fallbacks.clear()
        D.apply_cdc_batch_clusters(spark, mixed, sig, lab)
        states.append((
            fallbacks[:],
            {tuple(r) for r in lab.scan().select("doc_id", "label").collect()},
            {tuple(r) for r in sig.scan().collect()},
        ))
    (fast_runs, fast_labels, fast_sigs), (gated_runs, gated_labels, gated_sigs) = states
    assert fast_runs == [] and gated_runs == [True]
    assert gated_labels == fast_labels and len(fast_labels) == 44
    assert gated_sigs == fast_sigs


def test_fold_fast_path_matches_fallback(spark, tmp_path, monkeypatch):
    """fold_batch_clusters: the bounded driver path and the distributed
    path must produce identical label stores over two sequential folds."""
    import emr_apache_iceberg_workshop_spark.plans.dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows_a = [(i, f"{base} v{i % 5}") for i in range(30)]
    rows_b = [(i, f"{base} v{i % 5}") for i in range(30, 55)]
    dfa = spark.createDataFrame(rows_a, "doc_id bigint, text string")
    dfb = spark.createDataFrame(rows_b, "doc_id bigint, text string")
    states = {}
    for tag, cap in (("fast", 100_000), ("slow", 0)):
        monkeypatch.setattr(D, "_CLUSTER_LOCAL_MAX", cap)
        sig, lab = _mk_stores(spark, tmp_path, f"fold_{tag}")
        D.fold_batch_clusters(spark, dfa, sig, lab, append=True)
        out = D.fold_batch_clusters(spark, dfb, sig, lab, append=True)
        states[tag] = (
            {(r["doc_id"], r["label"]) for r in lab.scan().select("doc_id", "label").collect()},
            {(r["doc_id"], r["label"]) for r in out.select("doc_id", "label").collect()},
        )
    assert states["fast"] == states["slow"]
    # store state and returned frame agree within each mode
    assert states["fast"][0] == states["fast"][1]


def test_ntile_buckets_runs_with_aqe_disabled(spark):
    """Strict-analysis guard (the r14 class): the range-rank plan must
    analyze and execute with AQE off."""
    from emr_apache_iceberg_workshop_spark.plans.profiling import _ntile_buckets

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(64).selectExpr("id AS o_custkey", "CAST(id % 9 AS DOUBLE) AS spend")
        out = _ntile_buckets(spark, df, ("spend", "o_custkey"), 10)
        assert out.count() == 64
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_probe_collect_equals_plain_limit_collect(spark):
    """The completeness-probe collect (incremental-limit scale-up
    disabled) must return exactly what limit(cap+1).collect() returns,
    under-cap and over-cap, and must restore the session conf after —
    including when the conf was unset before (the default)."""
    from emr_apache_iceberg_workshop_spark.tables import _probe_collect

    key = "spark.sql.limit.initialNumPartitions"
    # shuffled child so CollectLimit sits above an exchange (the real
    # probe shape); deterministic content
    df = (
        spark.range(500)
        .selectExpr("id % 97 AS k")
        .groupBy("k")
        .count()
    )
    for cap in (1000, 10):  # under-cap (complete) and over-cap (truncated)
        probe = _probe_collect(df, cap)
        plain = df.limit(cap + 1).collect()
        assert sorted(map(tuple, probe)) == sorted(map(tuple, plain))
        assert len(probe) == min(97, cap + 1)
    # conf restored to its prior state (unset by default)
    assert spark.conf.get(key, None) is None
    # and restored to a prior EXPLICIT value too
    spark.conf.set(key, "7")
    try:
        _probe_collect(df, 1000)
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.unset(key)


def test_probe_collect_schedules_fewer_jobs(spark, tmp_path):
    """The probe must not pay the incremental-limit retries: on a
    multi-partition SCAN-shaped child (no exchange under the limit — the
    real probe shape: store scan + broadcast semi-join) whose row count
    is far below cap+1, the probe-collect schedules strictly fewer Spark
    jobs than the default incremental collect (the r15 measurement this
    optimization rests on: first attempt reads 1 partition, misses,
    retries 4× more, …). A SHUFFLED child collapses to one job either
    way (the limit rides the exchange), which is why this test pins the
    scan shape."""
    from emr_apache_iceberg_workshop_spark.tables import _probe_collect

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        path = str(tmp_path / "t")
        spark.range(2000).repartition(8).write.parquet(path)
        df = spark.read.parquet(path).filter("id >= 0")
        df.count()  # warm: isolate the collects' scheduling

        def jobs():
            return spark._jsc.sc().dagScheduler().nextJobId()

        j0 = jobs()
        df.limit(100_001).collect()
        plain_jobs = jobs() - j0
        j0 = jobs()
        _probe_collect(df, 100_000)
        probe_jobs = jobs() - j0
        assert probe_jobs < plain_jobs, (probe_jobs, plain_jobs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
