"""Round-16 optimization pins.

- est_sim on the band join: dedup_batch_incremental's fused form equals
  the r15 lookup-join form row for row (pinned against a hand recompute).
- _merge_mor single source evaluation: an op-column merge evaluates its
  source exactly once (r15 re-ran it for the key-delete file).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_incremental_dedup_est_sim_rides_band_join(spark, tmp_path):
    """The fused est_sim form must reproduce the r15 lookup-join result
    exactly: one row per banded pair, est_sim = signature agreement /
    N_MINHASH, bit-identical doubles."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _SIG_COLS,
        N_MINHASH,
        build_signature_store,
        dedup_batch_incremental,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    base = "shared prefix tokens for everybody in this tiny corpus of text"
    corpus = spark.createDataFrame(
        [(i, f"{base} variant{i % 3}") for i in range(9)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{base} variant0"), (101, f"{base} variant1"),
         (102, "completely different content with no shared shingles at all")],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, root)
    store = SnapshotTable(spark, root)
    got = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup_batch_incremental(spark, batch, store, append=False).collect()
    }
    # reference: the r15 shape — distinct banded pairs, then two
    # signature-lookup joins
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _batch_band_candidates,
    )

    batch_sig = minhash_signature_df(batch).localCheckpoint(eager=True)
    others = store.scan().join(batch_sig.select("doc_id"), "doc_id", "left_anti")
    cand = _batch_band_candidates(batch_sig, others)
    mh_arr = "array(" + ", ".join(_SIG_COLS) + ")"
    sigs = others.select("doc_id", *_SIG_COLS).unionByName(
        batch_sig.select("doc_id", *_SIG_COLS)
    )
    ma = sigs.selectExpr("doc_id AS doc_a", f"{mh_arr} AS mha")
    mb = sigs.selectExpr("doc_id AS doc_b", f"{mh_arr} AS mhb")
    exp = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in cand.join(ma, "doc_a").join(mb, "doc_b").selectExpr(
            "doc_a",
            "doc_b",
            f"CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), v -> v)) AS DOUBLE)"
            f" / {N_MINHASH} AS est_sim",
        ).collect()
    }
    assert got == exp and got


def test_merge_mor_evaluates_source_once(spark, tmp_path):
    """An op-column MOR merge must evaluate its source exactly once (r15
    derived the key-delete file from the UNmaterialized source — one full
    re-evaluation per commit; for signature merges that was the batch's
    whole minhash pass)."""
    from pyspark.sql.types import LongType

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    bump_udf = F.udf(bump, LongType()).asNondeterministic()
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v bigint, Op string",
        properties={"write.merge.mode": "merge-on-read"},
    )
    src = (
        spark.range(50)
        .selectExpr("id AS k", "id AS v0", "IF(id % 10 = 0, 'D', 'U') AS Op")
        .withColumn("v", bump_udf(F.col("v0")))
        .select("k", "v", "Op")
    )
    t.merge(src, keys=["k"], op_col="Op")
    assert acc.value == 50, f"source evaluated {acc.value / 50}x"
    # and the merge behaved: D keys suppressed, U rows present
    got = {r["k"] for r in t.scan().collect()}
    assert got == {i for i in range(50) if i % 10 != 0}
