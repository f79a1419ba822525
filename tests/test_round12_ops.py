"""Round-12 operator tests: bounded MinHash verdict twin, incremental
store retraction, store-backed LM scoring.

Reference parity note: the reference repo (soumilshah1995/
emr-apache-iceberg-workshop) has no dedup surface; these operators are
north-star extensions whose ground truth is the full-recompute oracle in
plans/dedup.py (driver-checked via oracle_sql)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from emr_apache_iceberg_workshop_spark.session import build_session

    return build_session()


DDL = "doc_id bigint, text string"
BASE = "the quick brown fox jumps over the lazy dog again and again"


def _docs_fixture(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE + " with a small tail of extra words"),
            (3, "completely different corpus words drawn from an entirely"
                " separate vocabulary and domain altogether"),
        ],
        DDL,
    )
    batch = spark.createDataFrame(
        [
            (10, BASE),
            (11, BASE),
            (12, "unique new batch content with its own vocabulary and no"
                 " overlap whatsoever with anything else"),
        ],
        DDL,
    )
    corpus.write.parquet(str(tmp_path / "corpus_docs"))
    batch.write.parquet(str(tmp_path / "batch_docs"))
    return (
        spark.read.parquet(str(tmp_path / "corpus_docs")),
        spark.read.parquet(str(tmp_path / "batch_docs")),
    )


def test_minhash_verdicts_bounded_twin(spark, tmp_path):
    """The verdict form agrees with the pair form on partner sets, emits
    one row per batch doc, dominates same-signature partners, and never
    rescans corpus text."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_signature_store,
        dedup_batch_incremental,
        minhash_batch_verdicts,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus, batch = _docs_fixture(spark, tmp_path)
    store_root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, store_root)
    store = SnapshotTable(spark, store_root)

    v = minhash_batch_verdicts(spark, batch, store, append=True)
    rows = {r.doc_id: r for r in v.collect()}

    # 10 and 11 share doc 1's exact signature: bucket {1, 10, 11}
    for d in (10, 11):
        assert d in rows
        assert rows[d].best_sim == 1.0
        assert rows[d].best_partner == 1  # smallest same-sig partner
        assert rows[d].n_partners >= 2
    # the unrelated batch doc has no partner row (bounded output)
    assert 12 not in rows
    assert len(store.snapshots()) == 2

    # replay idempotence: append=False against the already-appended store
    # reproduces the verdicts exactly
    v2 = minhash_batch_verdicts(spark, batch, store, append=False)
    assert sorted(map(tuple, v2.collect())) == sorted(map(tuple, v.collect()))

    # partner-count parity with the pair form on the same store state
    pairs = dedup_batch_incremental(spark, batch, store, append=False)
    pc = (
        pairs.selectExpr("doc_a AS d", "doc_b AS p")
        .unionByName(pairs.selectExpr("doc_b AS d", "doc_a AS p"))
        .filter(F.col("d").isin(10, 11, 12))
        .groupBy("d")
        .agg(F.countDistinct("p").alias("n"))
    )
    pair_counts = {r.d: r.n for r in pc.collect()}
    for d, r in rows.items():
        assert pair_counts.get(d, 0) == r.n_partners, (d, r)

    # plan audit: corpus text parquet never scanned
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    plan = v2._jdf.queryExecution().executedPlan().toString()
    assert "corpus_docs" not in plan


def test_retraction_equals_full_recompute(spark, tmp_path):
    """After retract_batch, batch verdicts against the store equal a
    FULL recompute against a fresh store built from corpus-minus-deleted
    — for both the MinHash and exact tiers (VERDICT r11 task 3)."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_exact_hash_store,
        build_signature_store,
        dedup_batch_incremental,
        dedup_batch_incremental_exact,
        minhash_batch_verdicts,
        retract_batch,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus = spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # retracted below
            (3, "completely different corpus words drawn from an entirely"
                " separate vocabulary and domain altogether"),
        ],
        DDL,
    )
    kept = corpus.filter("doc_id <> 2")
    batch = spark.createDataFrame([(10, BASE), (11, BASE)], DDL)

    # MinHash tier: pair form + verdict form
    r1 = str(tmp_path / "sigs_retract")
    build_signature_store(spark, corpus, r1)
    s_retract = SnapshotTable(spark, r1)
    retract_batch(s_retract, corpus.filter("doc_id = 2").select("doc_id"))
    r2 = str(tmp_path / "sigs_fresh")
    build_signature_store(spark, kept, r2)
    s_fresh = SnapshotTable(spark, r2)
    for fn, id_cols in (
        (dedup_batch_incremental, ("doc_a", "doc_b")),
        (minhash_batch_verdicts, ("doc_id", "best_partner")),
    ):
        got_rows = fn(spark, batch, s_retract, append=False).collect()
        want = sorted(map(tuple, fn(spark, batch, s_fresh, append=False).collect()))
        assert sorted(map(tuple, got_rows)) == want, fn.__name__
        # and the retracted doc is really gone from every id field
        assert not any(r[c] == 2 for r in got_rows for c in id_cols), fn.__name__

    # exact tier: retracting doc 2 shrinks the hash group and can move
    # group_size (canonical stays doc 1)
    e1 = str(tmp_path / "hash_retract")
    build_exact_hash_store(spark, corpus, e1)
    h_retract = SnapshotTable(spark, e1)
    retract_batch(h_retract, corpus.filter("doc_id = 2").select("doc_id"))
    e2 = str(tmp_path / "hash_fresh")
    build_exact_hash_store(spark, kept, e2)
    h_fresh = SnapshotTable(spark, e2)
    got = sorted(map(tuple, dedup_batch_incremental_exact(
        spark, batch, h_retract, append=False).collect()))
    want = sorted(map(tuple, dedup_batch_incremental_exact(
        spark, batch, h_fresh, append=False).collect()))
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[10][2] == 3  # group {1, 10, 11} — doc 2 no longer counted
    assert by_id[10][3] == 1  # canonical unaffected


def test_cdc_batch_fold_into_store(spark, tmp_path):
    """apply_cdc_batch folds an I/U/D micro-batch (the reference
    datagen's CDC shape): D retracts, U retracts-then-reappends, I
    appends — the store state afterwards equals a fresh build from the
    post-CDC corpus."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        apply_cdc_batch,
        build_signature_store,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus = spark.createDataFrame(
        [(1, BASE), (2, BASE + " old revision of this doc"), (3, "short")],
        DDL,
    )
    root = str(tmp_path / "cdc_sigs")
    build_signature_store(spark, corpus, root)
    store = SnapshotTable(spark, root)

    cdc = spark.createDataFrame(
        [
            ("D", 3, None),
            ("U", 2, BASE + " new revision entirely rewritten words"),
            ("I", 4, "a brand new document inserted by cdc"),
        ],
        "Op string, doc_id bigint, text string",
    )
    apply_cdc_batch(spark, store, cdc, minhash_signature_df)

    post = spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE + " new revision entirely rewritten words"),
            (4, "a brand new document inserted by cdc"),
        ],
        DDL,
    )
    want = sorted(map(tuple, minhash_signature_df(post).collect()))
    got = sorted(map(tuple, store.scan().collect()))
    assert got == want
    # two commits: the equality delete, then the signature append
    ops = [s.operation for s in store.snapshots()]
    assert ops == ["append", "delete", "append"]


def test_delete_keys_retract_then_upsert_visible(spark, tmp_path):
    """delete_keys is sequence-aware: a re-append AFTER the delete is
    visible (Iceberg's sequence-number rule), and absent keys no-op."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), "k bigint, v string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.delete_keys(spark.createDataFrame([(1,), (99,)], "k bigint"), ["k"])
    assert {r.k for r in t.scan().collect()} == {2}
    t.write(spark.createDataFrame([(1, "a2")], "k bigint, v string"))
    got = {(r.k, r.v) for r in t.scan().collect()}
    assert got == {(2, "b"), (1, "a2")}


def test_plan_files_in_prunes_partitions(spark, tmp_path):
    """plan_files_in: identity partitions prune to the exact value set;
    bucket partitions prune to the values' bucket images; scan_pruned_in
    stays row-identical to scan().filter(IN)."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    rows = [(i, i % 4, f"v{i}") for i in range(40)]
    ddl = "id bigint, cluster int, v string"

    t = SnapshotTable.create(
        spark, str(tmp_path / "ident"), ddl, partition_by=["cluster"]
    )
    t.write(spark.createDataFrame(rows, ddl))
    kept, total = t.plan_files_in("cluster", [1, 3])
    assert 0 < len(kept) < total
    got = {(r.id, r.cluster) for r in
           t.scan_pruned_in("cluster", [1, 3]).filter("cluster IN (1,3)").collect()}
    want = {(i, i % 4) for i in range(40) if i % 4 in (1, 3)}
    assert got == want
    # empty value set plans nothing
    k0, _ = t.plan_files_in("cluster", [])
    assert k0 == []

    b = SnapshotTable.create(
        spark, str(tmp_path / "buck"), ddl, partition_by=["bucket(4, cluster)"]
    )
    b.write(spark.createDataFrame(rows, ddl))
    keptb, totalb = b.plan_files_in("cluster", [2])
    assert 0 < len(keptb) < totalb
    gotb = {r.id for r in
            b.scan_pruned_in("cluster", [2]).filter("cluster = 2").collect()}
    assert gotb == {i for i in range(40) if i % 4 == 2}


def test_semdedup_store_cluster_prune_parity(spark, tmp_path):
    """The cluster-partitioned assignment store gives verdicts identical
    to an unpartitioned one, and the batch's scan plans only the batch's
    cluster partitions."""
    from emr_apache_iceberg_workshop_spark.plans.similarity import (
        semdedup_batch_verdicts,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    # 2-d toy: cluster 3 near (1,0), cluster 5 near (0,1)
    cents = [(3, [1.0, 0.0]), (5, [0.0, 1.0])]
    cn2 = [1.0, 1.0]
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [0.99, 0.0]), (3, [0.0, 1.0])],
        "vec_id bigint, e array<double>",
    ).selectExpr("vec_id", "e", "sqrt(aggregate(e, 0d, (s, x) -> s + x * x)) AS nrm")
    batch = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id bigint, e array<double>"
    ).selectExpr("vec_id", "e", "sqrt(aggregate(e, 0d, (s, x) -> s + x * x)) AS nrm")

    ddl = "vec_id bigint, cluster int, nrm double, e array<double>"
    stores = []
    for name, part in (("part", ["cluster"]), ("flat", None)):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), ddl, partition_by=part
        )
        from emr_apache_iceberg_workshop_spark.plans.similarity import assign_clusters
        t.write(assign_clusters(corpus, cents, cn2).select("vec_id", "cluster", "nrm", "e"))
        stores.append(t)

    res = [
        sorted(map(tuple, semdedup_batch_verdicts(
            spark, batch, s, cents, cn2, append=False).collect()))
        for s in stores
    ]
    assert res[0] == res[1]
    assert res[0] and all(r[1] == 3 for r in res[0])  # batch lands in cluster 3

    # the partitioned store plans ONLY the batch's cluster files
    kept, total = stores[0].plan_files_in("cluster", [3])
    assert 0 < len(kept) < total


def test_double_append_is_idempotent(spark, tmp_path):
    """Calling the library append twice on the same batch (the replay
    shape outside the streaming scope guard) must not double-append
    signatures: the store stays unique per doc_id and later verdicts are
    unchanged (ADVICE r11)."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_exact_hash_store,
        build_signature_store,
        dedup_batch_incremental,
        dedup_batch_incremental_exact,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus = spark.createDataFrame([(1, BASE)], DDL)
    batch = spark.createDataFrame([(10, BASE), (11, BASE)], DDL)

    root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, root)
    store = SnapshotTable(spark, root)
    first = sorted(map(tuple, dedup_batch_incremental(
        spark, batch, store, append=True).collect()))
    again = sorted(map(tuple, dedup_batch_incremental(
        spark, batch, store, append=True).collect()))
    assert first == again
    ids = [r.doc_id for r in store.scan().select("doc_id").collect()]
    assert sorted(ids) == sorted(set(ids)) == [1, 10, 11]

    eroot = str(tmp_path / "hashes")
    build_exact_hash_store(spark, corpus, eroot)
    estore = SnapshotTable(spark, eroot)
    f1 = sorted(map(tuple, dedup_batch_incremental_exact(
        spark, batch, estore, append=True).collect()))
    f2 = sorted(map(tuple, dedup_batch_incremental_exact(
        spark, batch, estore, append=True).collect()))
    assert f1 == f2
    # group_size must count each doc ONCE (a double-append would say 5)
    assert {t[2] for t in f1} == {3}


def test_summary_lifecycle_emission_freshness_guard(spark, tmp_path, monkeypatch):
    """A tampered (stale-semantics) committed metadata emission is
    detected by the snapshots_table cross-check and regenerated — the
    emission twin of the fixture's _meta.json ops guard (ADVICE r11)."""
    import glob
    import json
    import shutil

    from emr_apache_iceberg_workshop_spark.plans import tablemeta as tm

    # work on a COPY of the committed fixture so the repo state is
    # untouched
    root = str(tmp_path / "sumlc")
    shutil.copytree(tm.SUMLC_ROOT, root)
    monkeypatch.setattr(tm, "SUMLC_ROOT", root)
    monkeypatch.setattr(tm, "_SUMLC_META", os.path.join(root, "_meta.json"))

    from emr_apache_iceberg_workshop_spark.plans.registry import registry

    fn = registry()["q_meta_summary_lifecycle"].fn
    want = sorted(map(tuple, fn(spark, "unused").collect()))

    # tamper the latest emitted metadata: corrupt one counter
    mds = sorted(glob.glob(os.path.join(root, "metadata", "*.metadata.json")))
    assert mds
    with open(mds[-1]) as f:
        doc = json.load(f)
    doc["snapshots"][0]["summary"]["added-records"] = "999"
    with open(mds[-1], "w") as f:
        json.dump(doc, f)

    got = sorted(map(tuple, fn(spark, "unused").collect()))
    assert got == want  # guard regenerated; stale 999 never surfaced


def test_call_verdicts_and_retract_facade_parity(spark, tmp_path):
    """CALL system.dedup_batch(algo => 'verdicts') matches the library
    verdict twin; CALL system.retract_batch equality-deletes the
    source's keys and verdicts reflect it."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_signature_store,
        minhash_batch_verdicts,
    )
    from emr_apache_iceberg_workshop_spark.sqlext import SqlCatalog
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus = [(1, BASE), (2, "corpus only text"), (3, BASE)]
    batch = [(10, BASE), (11, "fresh batch content")]
    root = str(tmp_path / "mh_store")
    build_signature_store(spark, spark.createDataFrame(corpus, DDL), root)

    cat = SqlCatalog(spark)
    cat.register("mh_sigs", root)
    spark.createDataFrame(batch, DDL).createOrReplaceTempView("day2_batch")

    got = cat.sql(
        "CALL system.dedup_batch('mh_sigs', source => 'day2_batch',"
        " algo => 'verdicts')"
    )
    want = minhash_batch_verdicts(
        spark, spark.table("day2_batch"), SnapshotTable(spark, root),
        append=False,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    pre = sorted(map(tuple, got.collect()))
    assert pre and all(r[3] in (1, 3) for r in pre)  # partners: corpus dups

    # retract the dup corpus docs; verdicts lose their partners
    spark.createDataFrame([(1,), (3,)], "doc_id bigint").createOrReplaceTempView(
        "takedown"
    )
    sid = cat.sql("CALL system.retract_batch('mh_sigs', source => 'takedown')")
    assert isinstance(sid, int)
    assert [s.operation for s in SnapshotTable(spark, root).snapshots()] == [
        "append",
        "delete",
    ]
    post = cat.sql(
        "CALL system.dedup_batch('mh_sigs', source => 'day2_batch',"
        " algo => 'verdicts')"
    ).collect()
    assert post == []  # nothing left to match

    with pytest.raises(ValueError, match="requires"):
        cat.sql("CALL system.retract_batch('mh_sigs')")


def test_incremental_bm25_maintenance_math(spark, tmp_path):
    """The MERGE-maintained df + corpus-stats tables equal a full
    recount after the day-2 merge AND after a further batch (two MERGEs
    stacked), token-for-token."""
    from emr_apache_iceberg_workshop_spark.plans.textops import (
        TOKS_S,
        build_doc_freq_store,
        update_doc_freq,
    )

    day1 = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha delta")], DDL
    )
    b2 = spark.createDataFrame([(3, "beta epsilon epsilon")], DDL)
    b3 = spark.createDataFrame([(4, "alpha beta zeta")], DDL)

    df_t, st_t = build_doc_freq_store(
        spark, day1, str(tmp_path / "df"), str(tmp_path / "stats")
    )
    update_doc_freq(spark, b2, df_t, st_t)
    update_doc_freq(spark, b3, df_t, st_t)

    full = day1.unionByName(b2).unionByName(b3)
    want_df = sorted(
        map(
            tuple,
            full.selectExpr(f"explode(array_distinct({TOKS_S})) AS token")
            .groupBy("token")
            .count()
            .selectExpr("token", "CAST(count AS BIGINT) AS df")
            .collect(),
        )
    )
    got_df = sorted(map(tuple, df_t.scan().collect()))
    assert got_df == want_df

    (row,) = st_t.scan().collect()
    want_tot = full.selectExpr(f"size({TOKS_S}) AS dl").agg(
        F.count(F.lit(1)), F.sum("dl")
    ).collect()[0]
    assert (row.n_docs, row.total_tokens) == (want_tot[0], want_tot[1])


def test_stream_cdc_store_exactly_once_replay(spark, tmp_path):
    """The CDC signature-store stream: re-draining with the same
    checkpoint is a no-op (no new snapshots), a direct replay of a
    stamped batch skips, and the store state equals a fresh signature of
    the post-CDC corpus."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _SIG_DDL,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.plans.streamingq import (
        cdc_sig_stream_batch,
        stream_cdc_sig_store,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    cdc_ddl = "Op string, doc_id bigint, text string"
    b0 = spark.createDataFrame(
        [("I", 1, BASE), ("I", 2, "second doc original words")], cdc_ddl
    )
    b1 = spark.createDataFrame(
        [("U", 2, "second doc rewritten entirely"), ("I", 3, "third doc")],
        cdc_ddl,
    )
    b2 = spark.createDataFrame([("D", 1, None)], cdc_ddl)
    for k, b in enumerate((b0, b1, b2)):
        sub = str(tmp_path / f"p{k}")
        b.coalesce(1).write.parquet(sub)
        import glob
        import shutil

        shutil.copy(glob.glob(sub + "/*.parquet")[0], f"{feed}/b{k}.parquet")

    store = SnapshotTable.create(
        spark, str(tmp_path / "sigs"), _SIG_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    cp = str(tmp_path / "cp")
    src = (
        spark.readStream.schema(cdc_ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    stream_cdc_sig_store(spark, src, store, cp)
    n_snaps = len(store.snapshots())
    assert n_snaps == 3  # one atomic merge per micro-batch

    post = spark.createDataFrame(
        [(2, "second doc rewritten entirely"), (3, "third doc")], DDL
    )
    want = sorted(map(tuple, minhash_signature_df(post).collect()))
    assert sorted(map(tuple, store.scan().collect())) == want

    # re-drain with the same checkpoint: Spark replays nothing
    src2 = (
        spark.readStream.schema(cdc_ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    stream_cdc_sig_store(spark, src2, store, cp)
    assert len(store.snapshots()) == n_snaps

    # direct replay of a stamped batch id under the resolved scope: skip
    from emr_apache_iceberg_workshop_spark.streaming.jobs import _checkpoint_scope

    assert cdc_sig_stream_batch(spark, b1, 1, store, scope=_checkpoint_scope(cp)) is False
    assert sorted(map(tuple, store.scan().collect())) == want


def test_verdict_forms_replay_after_append(spark, tmp_path):
    """append=False against a store that ALREADY holds the batch (the
    replay shape) reproduces the original verdicts exactly for the
    simhash and semantic verdict forms too — the universe is
    (store minus batch ids) ∪ batch in every tier."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_simhash_store,
        simhash_batch_verdicts,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    corpus = spark.createDataFrame([(1, BASE)], DDL)
    batch = spark.createDataFrame([(10, BASE), (11, BASE)], DDL)
    root = str(tmp_path / "shsigs")
    build_simhash_store(spark, corpus, root)
    store = SnapshotTable(spark, root)
    v1 = sorted(map(tuple, simhash_batch_verdicts(
        spark, batch, store, append=True).collect()))
    v2 = sorted(map(tuple, simhash_batch_verdicts(
        spark, batch, store, append=False).collect()))
    assert v1 == v2
    # n_partners must count each partner once (a double-counted batch
    # would report 4 for doc 10: {1, 10dup, 11, 11dup})
    by_id = {t[0]: t for t in v2}
    assert by_id[10][2] == 2


def test_maintenance_merge_replay_guard(spark, tmp_path):
    """A stamped maintenance MERGE folded twice applies once: the token
    frequencies and BM25 df/stats tables stay at the single-fold values;
    a crash between the BM25 pair's merges replays only the missing one."""
    from emr_apache_iceberg_workshop_spark.plans.textops import (
        build_doc_freq_store,
        build_token_freq_store,
        update_doc_freq,
        update_token_freq,
    )

    day1 = spark.createDataFrame([(1, "alpha beta")], DDL)
    b2 = spark.createDataFrame([(2, "beta gamma")], DDL)

    tf = build_token_freq_store(spark, day1, str(tmp_path / "tf"))
    sid = update_token_freq(spark, b2, tf, batch_id=0, scope="s1")
    assert sid is not None
    assert update_token_freq(spark, b2, tf, batch_id=0, scope="s1") is None
    got = {r.token: r.freq for r in tf.scan().collect()}
    assert got == {"alpha": 1, "beta": 2, "gamma": 1}
    # a DIFFERENT scope's batch 0 is not a replay
    assert update_token_freq(spark, b2, tf, batch_id=0, scope="s2") is not None
    assert {r.token: r.freq for r in tf.scan().collect()}["beta"] == 3

    df_t, st_t = build_doc_freq_store(
        spark, day1, str(tmp_path / "df"), str(tmp_path / "stats")
    )
    update_doc_freq(spark, b2, df_t, st_t, batch_id=0, scope="s1")
    update_doc_freq(spark, b2, df_t, st_t, batch_id=0, scope="s1")  # replay
    assert {r.token: r.df for r in df_t.scan().collect()} == {
        "alpha": 1, "beta": 2, "gamma": 1
    }
    (row,) = st_t.scan().collect()
    assert (row.n_docs, row.total_tokens) == (2, 4)

    # crash window: df already folded batch 1, stats missed it — the
    # replay folds ONLY stats
    b3 = spark.createDataFrame([(3, "delta")], DDL)
    # simulate the crash: fold df alone, stamped, as the dying run did
    df_t.merge(
        spark.createDataFrame([("delta", 1)], "token string, df bigint"),
        keys=["token"], summary_extra=df_t.stream_stamp("s1", 1),
    )
    update_doc_freq(spark, b3, df_t, st_t, batch_id=1, scope="s1")
    assert {r.token: r.df for r in df_t.scan().collect()}["delta"] == 1  # once
    (row2,) = st_t.scan().collect()
    assert (row2.n_docs, row2.total_tokens) == (3, 5)  # stats caught up
