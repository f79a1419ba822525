"""Round-11 additions: parent-relative snapshot-summary counters
(cherry-pick / rollback-forward), tolerant metadata_log_entries,
incremental dedup against a persisted signature table, and the
SemDeDup big-K broadcast assignment path."""

from __future__ import annotations

import json
import os

import pytest


# -- parent-relative snapshot summary counters ---------------------------------
def test_snapshot_summary_cherry_pick_parent_relative(spark, tmp_path):
    """A cherry-picked snapshot keeps its incoming dirs owned by the
    SOURCE snapshot id (tables.py cherry_pick_snapshot, files=[]), yet
    per the Iceberg spec its summary added-* must count those files —
    they are live here and absent from the parent state. Graded on both
    surfaces: the emitted metadata.json summary and the engine's
    `.snapshots` table."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long, v string"
    t = SnapshotTable.create(spark, str(tmp_path / "cp"), ddl)
    t.write(spark.createDataFrame([(1, "a")], ddl).coalesce(1))
    staged = t.write(
        spark.createDataFrame([(2, "b"), (3, "c")], ddl).coalesce(1),
        branch="audit",
    )
    t.write(spark.createDataFrame([(4, "d")], ddl).coalesce(1))  # main moves
    pick_sid = t.cherry_pick_snapshot(staged)

    md = write_iceberg_metadata(t)
    with open(md) as f:
        doc = json.load(f)
    summ = {s["snapshot-id"]: s["summary"] for s in doc["snapshots"]}[pick_sid]
    # the staged append's files are NEW relative to the pick's parent
    assert summ["added-data-files"] == "1"
    assert summ["added-records"] == "2"
    assert "deleted-data-files" not in summ
    # totals include main's row + the picked rows
    assert summ["total-records"] == "4"

    st = {r.snapshot_id: r for r in t.snapshots_table().collect()}
    assert st[pick_sid].added_files == 1
    assert st[pick_sid].added_rows == 2
    assert st[pick_sid].total_records == 4
    # engine and emission surfaces agree counter-for-counter
    for sid, s in summ_items(doc):
        assert st[sid].added_files == int(s["added-data-files"])
        assert st[sid].added_rows == int(s["added-records"])
        assert st[sid].total_records == int(s["total-records"])


def summ_items(doc):
    return [(s["snapshot-id"], s["summary"]) for s in doc["snapshots"]]


def test_snapshot_summary_rollback_forward_parent_relative(spark, tmp_path):
    """Rollback is metadata-only; the NEXT write forks from the rollback
    point. The emission walks the current LINEAGE (fork's parent = the
    rollback point), so the fork's summary is added-only relative to s1 —
    the abandoned head never enters the diff. The engine's `.snapshots`
    lists all retained snapshots; the fork's added-* must still be its
    own file, not the union it re-exposes."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "k long"
    t = SnapshotTable.create(spark, str(tmp_path / "rb"), ddl)
    s1 = t.write(spark.createDataFrame([(1,), (2,)], ddl).coalesce(1))
    t.write(spark.createDataFrame([(3,)], ddl).coalesce(1))  # abandoned head
    t.rollback_to_snapshot(s1)
    fork = t.write(spark.createDataFrame([(4,)], ddl).coalesce(1))

    md = write_iceberg_metadata(t)
    with open(md) as f:
        doc = json.load(f)
    summ = {s["snapshot-id"]: s["summary"] for s in doc["snapshots"]}[fork]
    assert summ["added-data-files"] == "1"
    assert summ["added-records"] == "1"
    assert "deleted-data-files" not in summ  # abandoned head not in lineage
    assert summ["total-records"] == "3"

    st = {r.snapshot_id: r for r in t.snapshots_table().collect()}
    assert st[fork].added_files == 1 and st[fork].added_rows == 1
    assert st[fork].total_records == 3


# -- tolerant metadata_log_entries ---------------------------------------------
def test_metadata_log_entries_tolerates_removed_history(spark, tmp_path):
    """Historical version files may be cleaned up
    (write.metadata.delete-after-commit.enabled); Iceberg's
    .metadata_log_entries still lists them instead of failing. The row
    keeps the log entry's own timestamp with NULL latest_* columns."""
    from emr_apache_iceberg_workshop_spark.iceberg_meta import (
        discover_latest_metadata,
        metadata_log_entries,
        write_iceberg_metadata,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "id bigint"
    t = SnapshotTable.create(spark, str(tmp_path / "t"), ddl)
    for i in range(3):
        t.write(spark.createDataFrame([(i,)], ddl).coalesce(1))
        write_iceberg_metadata(t)
    meta_dir = os.path.join(t.root, "metadata")
    os.remove(os.path.join(meta_dir, "v1.metadata.json"))

    rows = metadata_log_entries(discover_latest_metadata(t.root))
    assert [r["file"] for r in rows] == [
        "v1.metadata.json", "v2.metadata.json", "v3.metadata.json",
    ]
    gone, v2, v3 = rows
    assert gone["latest_snapshot_id"] is None
    assert gone["latest_schema_id"] is None
    assert gone["timestamp_ms"] is not None  # from the metadata-log entry
    assert v2["latest_snapshot_id"] == 2 and v3["latest_snapshot_id"] == 3


# -- replay-guard: no adoption of unscoped ids ----------------------------------
def test_stream_guard_foreign_unscoped_never_swallows_without_optin(
    spark, tmp_path
):
    """A scoped DSv2 query resumed (batchId > 0) against a table whose
    ONLY streaming history is unscoped ids from another live writer
    (append_stream_batch without a scope) must COMMIT its batch: unscoped
    ids are always foreign — adopting them as the query's history was
    silent data loss."""
    from emr_apache_iceberg_workshop_spark.sources.dsv2 import (
        SnapshotTableStreamWriter,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "id bigint")
    t.write(
        spark.createDataFrame([(1,)], "id bigint"),
        summary_extra={"streaming.batch-id": 9},  # foreign, unscoped
    )
    w = SnapshotTableStreamWriter(
        {"table": t.root, "checkpointlocation": str(tmp_path / "ckpt")},
        [("id", "bigint")],
        False,
    )
    w.commit([], batchId=3)  # resumed scoped query, no scoped history
    snaps = t.snapshots()
    assert len(snaps) == 2  # committed — NOT swallowed by foreign id 9
    assert snaps[-1].summary["streaming.batch-id"] == 3


# -- incremental dedup against a persisted signature store ----------------------
def test_incremental_dedup_never_rescans_corpus_text(spark, tmp_path):
    """The batch run's plan must read batch text + the signature store's
    parquet ONLY — the corpus text parquet never appears. Corpus and
    batch are written to physically distinct paths so the plan assertion
    is airtight."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_signature_store,
        dedup_batch_incremental,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus_pq = str(tmp_path / "corpus_docs")
    batch_pq = str(tmp_path / "batch_docs")
    ddl = "doc_id bigint, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different words here"
          " that share nothing with anything else at all")],
        ddl,
    ).write.parquet(corpus_pq)
    spark.createDataFrame(
        [(10, base), (11, base), (12, "unique new batch content with its own"
          " vocabulary and no overlap whatsoever")],
        ddl,
    ).write.parquet(batch_pq)

    store_root = str(tmp_path / "sigs")
    build_signature_store(spark, spark.read.parquet(corpus_pq), store_root)
    store = SnapshotTable(spark, store_root)
    assert len(store.snapshots()) == 1

    batch = spark.read.parquet(batch_pq)
    matches = dedup_batch_incremental(spark, batch, store, append=True)
    rows = {(r.doc_a, r.doc_b): r.est_sim for r in matches.collect()}

    # batch-vs-corpus: 10 and 11 are near-copies of corpus doc 1/2
    assert (1, 10) in rows and (1, 11) in rows
    assert rows[(1, 10)] == 1.0  # identical text -> identical signature
    # batch-vs-batch: the two identical batch docs pair with each other
    assert rows.get((10, 11)) == 1.0
    # the unrelated docs pair with nothing
    assert not any(12 in p or 3 in p for p in rows)

    # the batch's signatures were appended as a new snapshot
    assert len(store.snapshots()) == 2
    assert store.scan().count() == 6

    # plan audit: corpus TEXT is never rescanned — the only parquet scans
    # are the batch file and the signature store (raise the metadata
    # truncation limit so full paths survive into the plan string)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    matches2 = dedup_batch_incremental(spark, batch, store, append=False)
    plan = matches2._jdf.queryExecution().executedPlan().toString()
    import re as _re

    scanned = set(_re.findall(r"Location:[^\[]*\[([^\]]*)\]", plan)) | set(
        _re.findall(r"file:[^\s,\]]*", plan)
    )
    flat = " ".join(scanned)
    assert "corpus_docs" not in flat, flat
    assert "batch_docs" in flat or "sigs" in flat

    # next-batch consumption: a THIRD batch now dedups against corpus+batch
    b2 = spark.createDataFrame([(20, base)], ddl)
    m2 = dedup_batch_incremental(spark, b2, store, append=False)
    partners = {r.doc_a for r in m2.collect()}
    assert {1, 10, 11} <= partners  # sees day-1 corpus AND day-2 batch


def test_incremental_matches_full_recompute(spark, tmp_path):
    """Batch-vs-store result ≡ the full-corpus recompute on the union,
    restricted to pairs touching the batch (the d_incremental oracle
    contract, asserted engine-side on a controlled fixture)."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _LSH_PAIRS_ORACLE,  # noqa: F401  (documents the contract)
        build_signature_store,
        dedup_batch_incremental,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "doc_id bigint, text string"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "one two three four five six seven eight nine ten eleven",
        "totally disjoint content cluster with original phrasing here",
    ]
    rows = [(i, texts[i % 4] + (" pad" if i >= 8 else "")) for i in range(12)]
    all_df = spark.createDataFrame(rows, ddl)
    corpus = all_df.filter("doc_id % 3 != 0")
    batch = all_df.filter("doc_id % 3 = 0")

    store_root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, store_root)
    store = SnapshotTable(spark, store_root)
    incr = {
        (r.doc_a, r.doc_b, r.est_sim)
        for r in dedup_batch_incremental(spark, batch, store, append=False).collect()
    }

    # full recompute: signature everything, band-join all pairs, keep
    # pairs touching the batch
    sig = minhash_signature_df(all_df)
    from emr_apache_iceberg_workshop_spark.plans.dedup import _bands_long

    long = _bands_long(sig, "doc_id")
    x = long.selectExpr("doc_id AS a", "band_idx", "band_key")
    y = long.selectExpr("doc_id AS b", "band_idx", "band_key")
    cand = (
        x.join(y, ["band_idx", "band_key"])
        .filter("a < b AND (a % 3 = 0 OR b % 3 = 0)")
        .selectExpr("a AS doc_a", "b AS doc_b")
        .distinct()
    )
    mh_arr = "array(" + ", ".join(f"mh{i}" for i in range(12)) + ")"
    ma = sig.selectExpr("doc_id AS doc_a", f"{mh_arr} AS mha")
    mb = sig.selectExpr("doc_id AS doc_b", f"{mh_arr} AS mhb")
    full = {
        (r.doc_a, r.doc_b, r.est_sim)
        for r in cand.join(ma, "doc_a").join(mb, "doc_b").selectExpr(
            "doc_a", "doc_b",
            "CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), v -> v))"
            " AS DOUBLE) / 12 AS est_sim",
        ).collect()
    }
    assert incr == full and len(full) > 0


# -- SemDeDup big-K assignment parity --------------------------------------------
def test_assign_clusters_bigk_parity(spark):
    """The broadcast-centroid-table assignment (big-K path) must be
    assignment-identical to the inline literal expression at the same
    centroids — same exact-decimal scores, same smallest-cluster
    tie-break — so switching paths at SEM_ASSIGN_INLINE_MAX can never
    change results."""
    from emr_apache_iceberg_workshop_spark.plans.similarity import (
        _kmeans_centroids,
        _normed,
        assign_clusters,
    )

    sf_dir = "/root/testdata/sf0.001"
    cents, cn2 = _kmeans_centroids(spark, sf_dir)
    n = _normed(spark, sf_dir)
    inline = {
        (r.vec_id, r.cluster)
        for r in assign_clusters(n, cents, cn2).select("vec_id", "cluster").collect()
    }
    # force the join path by dropping the inline threshold below K
    joined = {
        (r.vec_id, r.cluster)
        for r in assign_clusters(n, cents, cn2, inline_max=1)
        .select("vec_id", "cluster")
        .collect()
    }
    assert inline == joined and len(inline) > 0


def test_assign_clusters_bigk_tiebreak(spark):
    """Duplicated centroids score identically; both paths must break the
    tie to the SMALLEST cluster id."""
    from emr_apache_iceberg_workshop_spark.plans.similarity import (
        assign_clusters,
    )

    n = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, e array<double>"
    )
    cents = [(3, [1.0, 0.0]), (7, [1.0, 0.0]), (5, [0.0, 1.0])]
    cn2 = [1.0, 1.0, 1.0]
    for inline_max in (256, 1):
        got = {
            (r.vec_id, r.cluster)
            for r in assign_clusters(n, cents, cn2, inline_max=inline_max)
            .select("vec_id", "cluster")
            .collect()
        }
        assert got == {(1, 3), (2, 5)}, (inline_max, got)


def test_incremental_simhash_store_roundtrip(spark, tmp_path):
    """SimHash twin of the incremental store: batch text only, corpus via
    the persisted fingerprint table; append commits a new snapshot; plan
    never rescans corpus text."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_simhash_store,
        dedup_batch_incremental_simhash,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "doc_id bigint, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus words drawn from an"
          " entirely different vocabulary and domain")],
        ddl,
    ).write.parquet(str(tmp_path / "corpus_docs"))
    spark.createDataFrame(
        [(10, base), (11, base)], ddl
    ).write.parquet(str(tmp_path / "batch_docs"))

    store_root = str(tmp_path / "shsigs")
    build_simhash_store(
        spark, spark.read.parquet(str(tmp_path / "corpus_docs")), store_root
    )
    store = SnapshotTable(spark, store_root)
    batch = spark.read.parquet(str(tmp_path / "batch_docs"))
    m = dedup_batch_incremental_simhash(spark, batch, store, append=True)
    rows = {(r.doc_a, r.doc_b): r.hamming for r in m.collect()}
    assert rows[(1, 10)] == 0 and rows[(1, 11)] == 0  # vs corpus
    assert rows[(10, 11)] == 0  # within batch
    assert not any(2 in p for p in rows)
    assert len(store.snapshots()) == 2

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    m2 = dedup_batch_incremental_simhash(spark, batch, store, append=False)
    plan = m2._jdf.queryExecution().executedPlan().toString()
    assert "corpus_docs" not in plan


def test_semdedup_pipeline_path_independent(spark, monkeypatch):
    """The FULL SemDeDup pipeline (training assignment rounds + final
    assignment + collapse) must give identical results whichever
    assignment path runs — forcing the broadcast-join path everywhere by
    dropping the inline threshold to 0 reproduces the inline result
    row-for-row."""
    from emr_apache_iceberg_workshop_spark.plans import similarity as sim

    sf_dir = "/root/testdata/sf0.001"
    inline = {
        tuple(r) for r in sim.semdedup_counts(spark, sf_dir, k=6, sample=64).collect()
    }
    sim._kmeans_cache.clear()  # retrain under the forced path
    monkeypatch.setattr(sim, "SEM_ASSIGN_INLINE_MAX", 0)
    try:
        joined = {
            tuple(r)
            for r in sim.semdedup_counts(spark, sf_dir, k=6, sample=64).collect()
        }
    finally:
        sim._kmeans_cache.clear()  # do not leak forced-path training
    assert inline == joined and len(inline) > 0


def test_incremental_semdedup_store_roundtrip(spark, tmp_path):
    """Semantic twin: day-1 assignments persisted; the batch is assigned
    under the frozen index and deduped within clusters against the store
    and itself; append commits the batch's assignments; the next batch
    sees them."""
    from emr_apache_iceberg_workshop_spark.plans.similarity import (
        assign_clusters,
        semdedup_batch_verdicts,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ddl = "vec_id bigint, e array<double>, nrm double"
    cents = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    cn2 = [1.0, 1.0]
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0), (2, [0.0, 1.0], 1.0)], ddl
    )
    store_root = str(tmp_path / "asg")
    t = SnapshotTable.create(
        spark, store_root, "vec_id bigint, cluster int, nrm double, e array<double>"
    )
    t.write(assign_clusters(corpus, cents, cn2).select("vec_id", "cluster", "nrm", "e"))

    batch = spark.createDataFrame(
        [(10, [0.9, 0.1], 0.9055385138137417),
         (11, [0.9, 0.1], 0.9055385138137417),
         (12, [-1.0, 0.0], 1.0)],  # same cluster as 1/10/11? argmax: score 2*(-1)-1 vs 2*0-1 -> cluster 2
        ddl,
    )
    m = semdedup_batch_verdicts(spark, batch, t, cents, cn2, append=True, tau=0.9)
    rows = {r.vec_id: r for r in m.collect()}
    # 10 and 11 are semantic dups of corpus vec 1 and of each other
    assert rows[10].n_partners == 2 and rows[11].n_partners == 2
    assert rows[10].best_partner in (1, 11)
    # 12 points the other way: no cosine-0.9 partner
    assert 12 not in rows
    assert len(t.snapshots()) == 2  # batch assignments appended

    # next batch sees day-1 AND day-2 vectors
    b2 = spark.createDataFrame([(20, [1.0, 0.05], 1.0012492197250393)], ddl)
    m2 = semdedup_batch_verdicts(spark, b2, t, cents, cn2, append=False, tau=0.9)
    p2 = {r.vec_id: r.n_partners for r in m2.collect()}
    assert p2.get(20, 0) >= 3  # 1, 10, 11 all qualify
