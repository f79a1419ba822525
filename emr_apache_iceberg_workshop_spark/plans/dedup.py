"""Deduplication operators over `documents` / `embeddings` (north-star
extension: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup — each oracle-checked against DuckDB).

Cross-engine determinism: base hashes are md5 (identical hex in both
engines); minhash = MIN over a universal-hash family (a_i*h + b_i mod p)
applied to a 32-bit md5 prefix — pure int64 arithmetic, identical in both
engines, one md5 per shingle. Set sizes via |A∩B| = |A|+|B|-|A∪B| from
`array_distinct`/`list_distinct` (whose internal order differs between
engines — only sizes are used).

Scale design (100 TB):
- shingle/minhash/simhash signatures are per-row array lambdas — no
  shuffle, linear scan, codegen'd.
- candidate generation joins on band keys / shingles (equi-join shuffle on
  a high-cardinality key), NOT O(n²) pairs. The only quadratic step is the
  final verify over *candidates*, which LSH keeps small. The all-pairs
  simhash join here is exact small-scale verification; the banded variant
  is the production path (see d_minhash_lsh).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from ..catalog import load_table, fan_out
from ..functions import dsum, osum, sdot, sdot_approx, odot
from .registry import query
from .textops import TOKS_S, TOKS_D

# 3-token shingles (element_at is 1-based in Spark; [] is 1-based in DuckDB)
SHINGLES_S = f"""
  CASE WHEN size({TOKS_S}) >= 3 THEN
    array_distinct(transform(sequence(1, size({TOKS_S}) - 2),
      i -> concat_ws(' ', element_at({TOKS_S}, i), element_at({TOKS_S}, i + 1),
                     element_at({TOKS_S}, i + 2))))
  ELSE array() END
""".strip()

SHINGLES_D = f"""
  list_distinct(list_transform(generate_series(1, len({TOKS_D}) - 2),
    i -> {TOKS_D}[i] || ' ' || {TOKS_D}[i + 1] || ' ' || {TOKS_D}[i + 2]))
""".strip()

N_MINHASH = 12
N_BANDS = 4  # 3 rows per band

# Document-frequency cap for the shingle inverted index: a shingle present
# in more than this many documents contributes candidate PAIRS
# quadratically (one viral boilerplate shingle in 1M docs = 5·10¹¹ pairs on
# a single join key) while discriminating nothing. Candidates are generated
# from the capped index only; the verify step recomputes |A∩B| / |A∪B| from
# the FULL shingle arrays, so results are identical as long as a qualifying
# pair shares at least one sub-cap shingle. The fixtures' max DF is 25
# (measured at sf0.1), so the cap is inert locally; a pair of near-dups at
# jaccard ≥ 0.3 sharing ONLY >1000-doc shingles does not occur in practice
# (such docs are boilerplate dups caught by d_exact_dup / d_minhash_lsh).
MAX_SHINGLE_DF = 1000

# Edge/member cap for the cluster CDC kernel's bounded driver fast path
# — the same class as connected_components_adaptive's local_max: 100k
# rows ≈ a few MB of driver state. At or under the cap a batch's touched
# subgraph is probe-collected (limit(cap+1) — a short result proves
# completeness) and solved with the shared driver union-find; above it
# `_cluster_cdc_distributed` runs.
_CLUSTER_LOCAL_MAX = 100_000


# Completeness-probe collect with the incremental-limit scale-up
# disabled (canonical implementation + rationale in tables.py — the
# same idiom guards the COW partition-scope probes there).
from ..tables import _is_local, _probe_collect  # noqa: E402


def _jaccard_scored_pairs(s: "DataFrame", materialized: bool = False) -> "DataFrame":
    """Exact-jaccard near-dup pairs, candidates from the DF-capped inverted
    index — WITHOUT ever joining the shingle-array table (the r02 design
    shipped the full arrays into the verify join; at sf0.1 that is a
    multi-MB-per-task build side or a double sort-merge of the corpus).

    Decomposition: A∩B = (shared shingles with DF ≤ cap) ⊎ (shared hot
    shingles), so
    - the CAPPED term is counted inside the candidate equi-self-join
      itself (groupBy count — the same shuffle the old `.distinct()` paid,
      now carrying the answer), and
    - the HOT term comes from per-doc hot-shingle arrays (only docs
      containing a >cap shingle have one; the table is tiny by
      construction and empty on the fixtures).
    |A| and |B| ride along as per-group constants, so jaccard =
    n_common / (|A|+|B|-n_common) needs NO further join against the
    corpus. Exactness is preserved — the two terms partition A∩B.

    The self-join also prunes SIZE-INCOMPATIBLE pairs inline: jaccard ≥
    0.3 forces 10·min(|A|,|B|) ≥ 3·max(|A|,|B|) (|A∩B| ≤ min, |A∪B| ≥
    max). Integer arithmetic, zero false negatives — it only drops pairs
    the threshold filter would reject anyway, before they inflate the
    candidate shuffle. No broadcast hints anywhere: the hot set is
    |occurrences|/cap at worst, so AQE size-decides every join.

    The EXPLODED index (doc_id, n, shingle) is what gets cached — the
    shingle ARRAYS are never referenced again, and the index feeds three
    consumers (hot agg, self-join, doc_hot). At 100 TB this is the
    signature table you would materialize to parquet once.

    The shingle-array table is MATERIALIZED before the explode: Catalyst's
    project-collapse otherwise inlines the tokenize+shingle expression
    into the Generate and re-evaluates it per OUTPUT row (measured 13.6s
    vs 0.3s at sf0.1 — the classic explode-of-expensive-expression
    pitfall). One doc-sized checkpoint, same lifecycle as the persist.
    Callers holding an already-materialized input (shingle_arrays_for)
    pass materialized=True to skip the redundant copy."""
    if not materialized:
        s = s.localCheckpoint(eager=True)
    e = s.selectExpr("doc_id", "size(sh) AS n", "explode(sh) AS shingle").persist()
    e.count()
    hot = (
        e.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
        .persist()
    )
    # Adaptive short-circuit: with no over-cap shingle (the common,
    # fixture-measured case) the anti-join and the hot-term joins below are
    # identities — skip them. One cheap agg probe over the cached index;
    # the skewed path is exercised by tests/test_dedup_scale.py.
    has_hot = not hot.isEmpty()
    capped = e.join(hot, "shingle", "left_anti") if has_hot else e
    ea, eb = capped.alias("a"), capped.alias("b")
    cnt = (
        ea.join(
            eb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (10 * F.least("a.n", "b.n") >= 3 * F.greatest("a.n", "b.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("__nc_capped"),
            F.min(F.col("a.n")).alias("__na"),  # constant per doc_a
            F.min(F.col("b.n")).alias("__nb"),
        )
    )
    if has_hot:
        doc_hot = (
            e.join(hot, "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("__hsh"))
        )
        scored = (
            cnt.join(doc_hot.selectExpr("doc_id AS doc_a", "__hsh AS __ha"), "doc_a", "left")
            .join(doc_hot.selectExpr("doc_id AS doc_b", "__hsh AS __hb"), "doc_b", "left")
            .withColumn(
                "n_common",
                (
                    F.col("__nc_capped")
                    + F.expr(
                        "size(array_intersect(coalesce(__ha, array()), coalesce(__hb, array())))"
                    )
                ).cast("bigint"),
            )
        )
    else:
        scored = cnt.withColumn("n_common", F.col("__nc_capped").cast("bigint"))
    out = (
        scored.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        # materialize the (small) verified pair set so consumers never
        # replay the candidate machinery, then release the index cache
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    hot.unpersist()
    return out


# Shared materializations, built once per (session, sf_dir):
# - shingle_arrays_for: doc_id → distinct 3-token shingle array. The
#   tokenize+shingle projection is the CPU-dominant step of the whole
#   dedup family; the jaccard pair build AND the minhash-LSH signature
#   build both start from it, so it is computed once and the checkpoint
#   shared. At 100 TB this is the signature table you materialize to
#   parquet once and every dedup job reads.
# - jaccard_pairs_for: the verified near-dup pair set on top of it,
#   shared by d_ngram_jaccard and c_dup_groups (same edge semantics).
_shingle_cache: dict[tuple[str, str], DataFrame] = {}
_pair_cache: dict[tuple[str, str], DataFrame] = {}


def shingle_arrays_for(spark, sf_dir) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _shingle_cache.get(key)
    if df is None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        df = docs.selectExpr("doc_id", f"{SHINGLES_S} AS sh").localCheckpoint(eager=True)
        _shingle_cache[key] = df
    return df


def jaccard_pairs_for(spark, sf_dir) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _pair_cache.get(key)
    if df is None:
        df = _jaccard_scored_pairs(shingle_arrays_for(spark, sf_dir), materialized=True)
        _pair_cache[key] = df
    return df

# One md5 per shingle, then K cheap affine rehashes (a_i*h + b_i) mod p —
# the standard universal-hash minhash family. 12× fewer md5 calls than
# hashing per-seed; h < 2^32 and a_i < 2^30 keep products inside int64 in
# both engines (identical bigint arithmetic → identical minhashes).
_MH_P = 2147483647
_MH_A = [976369 + 2 * i * 104729 for i in range(N_MINHASH)]
_MH_B = [377_000_599 + i * 15_485_863 for i in range(N_MINHASH)]

# hex-prefix of md5 → bigint (same value in both engines)
_H32_S = "CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)"
_H32_D = "CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)"

HASHED_SHINGLES_S = f"transform(__sh, x -> {_H32_S})"
HASHED_SHINGLES_D = f"list_transform(__sh, x -> {_H32_D})"


def _minhash_exprs(dialect: str) -> list[str]:
    """K min-hashes over the pre-hashed shingle array __hs."""
    tf, mn = ("transform", "array_min") if dialect == "spark" else ("list_transform", "list_min")
    return [
        f"{mn}({tf}(__hs, h -> ({_MH_A[s]} * h + {_MH_B[s]}) % {_MH_P})) AS mh{s}"
        for s in range(N_MINHASH)
    ]


def _band_exprs() -> list[str]:
    """Band keys: md5 of 3 consecutive minhashes (same SQL both dialects)."""
    return [
        "md5(concat_ws('|', "
        + ", ".join(f"CAST(mh{3 * b + j} AS STRING)" for j in range(3))
        + f")) AS band{b}"
        for b in range(N_BANDS)
    ]


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content hash; canonical = min doc_id
@query(
    "d_exact_dup",
    oracle="""
    SELECT doc_id, md5(text) AS text_hash,
           COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
    FROM documents
    """,
    tags=("dedup:exact", "window"),
)
def d_exact_dup(spark, sf_dir) -> DataFrame:
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn("text_hash", F.md5("text"))
    w = Window.partitionBy("text_hash")
    return docs.select(
        "doc_id",
        "text_hash",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup: shingle equi-join candidates + exact verify
@query(
    "d_ngram_jaccard",
    # The oracle shares the engine's candidate contract EXACTLY: candidates
    # from the DF-capped inverted index (shingles with DF <= MAX_SHINGLE_DF),
    # jaccard verified from the FULL shingle arrays. Both engines therefore
    # agree by construction even on adversarial data where a pair's entire
    # overlap is viral (>cap) shingles — such a pair is (documented) out of
    # contract for the jaccard tier in BOTH engines.
    oracle=f"""
    WITH s AS (SELECT doc_id, {SHINGLES_D} AS sh FROM documents),
         e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         hot AS (SELECT shingle FROM e GROUP BY shingle
                 HAVING COUNT(*) > {MAX_SHINGLE_DF}),
         ec AS (SELECT doc_id, shingle FROM e
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM ec a JOIN ec b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         v AS (SELECT doc_a, doc_b,
                      CAST(len(sa.sh) + len(sb.sh)
                           - len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS n_common,
                      len(list_distinct(list_concat(sa.sh, sb.sh))) AS n_union
               FROM cand JOIN s sa ON sa.doc_id = doc_a
                         JOIN s sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM v WHERE CAST(n_common AS DOUBLE) / n_union >= 0.3
    """,
    tags=("dedup:jaccard", "join"),
)
def d_ngram_jaccard(spark, sf_dir) -> DataFrame:
    return jaccard_pairs_for(spark, sf_dir)


# --------------------------------------------------------------------------
# MinHash + LSH banding: candidates share ≥1 band; verify with est + true sim
# (oracle extracted to a constant so d_minhash_accuracy can wrap it as a CTE)
_LSH_PAIRS_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_D} AS __sh FROM documents),
         hs AS (SELECT doc_id, __sh, {HASHED_SHINGLES_D} AS __hs FROM s),
         m AS (SELECT doc_id, __sh, {', '.join(_minhash_exprs('duck'))} FROM hs),
         b AS (SELECT *, {', '.join(_band_exprs())} FROM m),
         long AS (
           SELECT doc_id, band_idx, band_key FROM (
             SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM b
             UNION ALL SELECT doc_id, 1, band1 FROM b
             UNION ALL SELECT doc_id, 2, band2 FROM b
             UNION ALL SELECT doc_id, 3, band3 FROM b)
         ),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM long x JOIN long y
                  ON x.band_key = y.band_key AND x.band_idx = y.band_idx
                     AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b,
           CAST(len(list_filter(list_zip(
                  [ma.mh0, ma.mh1, ma.mh2, ma.mh3, ma.mh4, ma.mh5, ma.mh6, ma.mh7, ma.mh8, ma.mh9, ma.mh10, ma.mh11],
                  [mb.mh0, mb.mh1, mb.mh2, mb.mh3, mb.mh4, mb.mh5, mb.mh6, mb.mh7, mb.mh8, mb.mh9, mb.mh10, mb.mh11]),
                p -> p[1] = p[2])) AS DOUBLE) / {N_MINHASH} AS est_sim,
           CAST(len(ma.__sh) + len(mb.__sh)
                - len(list_distinct(list_concat(ma.__sh, mb.__sh))) AS DOUBLE)
             / len(list_distinct(list_concat(ma.__sh, mb.__sh))) AS jaccard
    FROM cand JOIN m ma ON ma.doc_id = doc_a JOIN m mb ON mb.doc_id = doc_b
    """


@query(
    "d_minhash_lsh",
    oracle=_LSH_PAIRS_ORACLE,
    tags=("dedup:minhash-lsh", "join"),
)
def d_minhash_lsh(spark, sf_dir) -> DataFrame:
    # shared shingle materialization (see shingle_arrays_for): the
    # tokenize+shingle pass is paid once across the whole dedup family
    s = shingle_arrays_for(spark, sf_dir).selectExpr("doc_id", "sh AS __sh")
    # Signatures via explode + codegen'd scalars + hash aggregate instead of
    # array lambdas: higher-order functions are interpreted (never codegen'd)
    # and their lambda call sites degrade further in a long-lived session,
    # while explode → md5/conv → 12 partial-agg MINs stays in whole-stage
    # codegen end to end and map-side combines before the tiny doc_id
    # shuffle — the shape that survives a 100 TB corpus. explode_outer keeps
    # empty-shingle docs (their mins stay NULL, same as array_min([])).
    e = s.selectExpr("doc_id", "explode_outer(__sh) AS x").selectExpr(
        "doc_id", f"{_H32_S} AS h"
    )
    sig = e.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({_MH_A[i]} * h + {_MH_B[i]}) % {_MH_P})").alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )
    # Cache doc_id → (shingles, signature): it feeds banding + both verify
    # sides (ma, mb). Eager count: the two broadcast-exchange jobs launch
    # concurrently with the candidate job, and a lazy persist would let all
    # three recompute the signature subtree before any populates the cache.
    m = s.join(sig, "doc_id").persist()
    m.count()
    b = m.selectExpr("*", *_band_exprs())
    stack_args = ", ".join(f"{i}, band{i}" for i in range(N_BANDS))
    long = b.selectExpr("doc_id", f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)")
    x, y = long.alias("x"), long.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    mh_arr = "array(" + ", ".join(f"mh{i}" for i in range(N_MINHASH)) + ")"
    # Unhinted verify joins: the signature+shingle table is O(corpus) and
    # must never be force-broadcast; candidates are the small side and AQE
    # can still pick a broadcast at runtime (shuffle join on doc_id at scale).
    ma = m.selectExpr("doc_id AS doc_a", f"{mh_arr} AS mha", "__sh AS sha")
    mb = m.selectExpr("doc_id AS doc_b", f"{mh_arr} AS mhb", "__sh AS shb")
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), v -> v)) AS DOUBLE) / {N_MINHASH} AS est_sim",
            "CAST(size(sha) + size(shb) - size(array_distinct(concat(sha, shb))) AS DOUBLE)"
            " / size(array_distinct(concat(sha, shb))) AS jaccard",
        )
    )


# --------------------------------------------------------------------------
# SimHash (32-bit) near-dup: hamming distance ≤ 3, banded candidates.
# Bit b of the simhash = majority vote of the high bit of hex nibble b of
# md5(token). md5 is computed ONCE per token into a hex-string array; the
# 32 per-bit counts are substr checks over that array (Catalyst keeps the
# md5 transform as a single non-collapsed alias, so it is one pass).
def _simhash_md5s(dialect: str) -> str:
    if dialect == "spark":
        return f"transform(array_distinct({TOKS_S}), x -> md5(x))"
    return f"list_transform(list_distinct({TOKS_D}), x -> md5(x))"


def _simhash_expr(dialect: str) -> str:
    size_fn, filt = ("size", "filter") if dialect == "spark" else ("len", "list_filter")
    high = "'8','9','a','b','c','d','e','f'"
    terms = []
    for bit in range(32):
        cnt = f"{size_fn}({filt}(__md, h -> substr(h, {bit + 1}, 1) IN ({high})))"
        terms.append(f"(CASE WHEN 2 * {cnt} > {size_fn}(__md) THEN {1 << bit} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# simhash signature table cached per (session, corpus): the signature
# feeds BOTH sides of the banded self-join (without materialization the
# explode+md5+32-count aggregation subtree runs twice per call, and again
# on every re-invocation) — the same shared-signature-table doctrine as
# shingle_arrays_for; at 100 TB this table is persisted next to the
# corpus and every near-dup job reads it.
_simhash_cache: dict[tuple[str, str], DataFrame] = {}


def _simhash_table(spark, sf_dir) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _simhash_cache.get(key)
    if df is not None:
        return df
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Same per-doc simhash as the oracle expression, but computed as
    # explode(distinct tokens) → one codegen'd md5 per token → a single
    # hash aggregate with 32 conditional bit-majority counts. No
    # interpreted array lambdas; partial aggregation combines map-side
    # before the doc_id shuffle (the 100 TB shape). explode_outer keeps
    # token-less docs: their counts are 0 so every majority vote fails,
    # matching the lambda form's simhash of 0.
    high = "'8','9','a','b','c','d','e','f'"
    e = docs.selectExpr("doc_id", f"explode_outer(array_distinct({TOKS_S})) AS x").selectExpr(
        "doc_id", "md5(x) AS hh"
    )
    bit_counts = [
        F.expr(f"count(CASE WHEN substr(hh, {b + 1}, 1) IN ({high}) THEN 1 END)").alias(f"c{b}")
        for b in range(32)
    ]
    g = e.groupBy("doc_id").agg(F.count("hh").alias("n"), *bit_counts)
    vote = " + ".join(f"(CASE WHEN 2 * c{b} > n THEN {1 << b} ELSE 0 END)" for b in range(32))
    df = g.selectExpr("doc_id", f"CAST({vote} AS BIGINT) AS simhash").localCheckpoint(
        eager=True
    )
    _simhash_cache[key] = df
    return df



@query(
    "d_simhash",
    oracle=f"""
    WITH md AS (SELECT doc_id, {_simhash_md5s('duck')} AS __md FROM documents),
         h AS (SELECT doc_id, {_simhash_expr('duck')} AS simhash FROM md)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS simhash_a, b.simhash AS simhash_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup:simhash", "join"),
)
def d_simhash(spark, sf_dir) -> DataFrame:
    # CANDIDATES by pigeonhole banding over DISTINCT FINGERPRINTS, not
    # doc pairs: split the 32-bit simhash into 4 bytes; any pair at
    # hamming ≤ 3 differs in ≤ 3 bytes, so at least one byte matches
    # exactly → every qualifying fingerprint pair shares some
    # (band_idx, band_val) key and survives the equi-join. Docs are
    # first COLLAPSED by exact simhash (the d_simhash_clusters
    # contraction, applied to the pair form): the banding, the
    # candidate distinct(), and the exact-hamming verify all run on the
    # distinct-fingerprint table (2,255 rows at sf0.1 vs 5,000 docs;
    # 15,708 vs 50,000 at sf1), and doc pairs materialize only at the
    # very end — within-group cliques via a same-fingerprint self-join,
    # cross-fingerprint pairs by expanding each verified fingerprint
    # pair through its two member lists. The expansion is the OUTPUT
    # (unavoidable for a pair-form result — SCALE.md documents the
    # enumeration lower bound); everything upstream of it is now
    # quadratic only in distinct near-identical fingerprints. Widening
    # the band keys (Manku-style 3-of-6 combinations) was tried and
    # REJECTED earlier (~2× slower: higher per-true-pair candidate
    # multiplicity); the fingerprint collapse attacks the actual cost —
    # candidate volume — instead.
    h = _simhash_table(spark, sf_dir)
    fp = h.select("simhash").distinct().localCheckpoint(eager=True)
    band_pairs = ", ".join(
        f"{b}, CAST(shiftright(simhash, {8 * b}) & 255 AS INT)" for b in range(4)
    )
    bands = fp.selectExpr(
        "simhash", f"stack(4, {band_pairs}) AS (band_idx, band_val)"
    )
    x, y = bands.alias("x"), bands.alias("y")
    fpp = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.simhash") < F.col("y.simhash")),
        )
        .select(F.col("x.simhash").alias("fa"), F.col("y.simhash").alias("fb"))
        .distinct()  # a fingerprint pair can share several bands
        .withColumn("hamming", F.expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .filter(F.col("hamming") <= 3)
    )
    a, b = h.alias("a"), h.alias("b")
    within = (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    cross = (
        fpp.join(a, F.col("a.simhash") == F.col("fa"))
        .join(b, F.col("b.simhash") == F.col("fb"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("fa"))
            .otherwise(F.col("fb")).alias("simhash_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("fb"))
            .otherwise(F.col("fa")).alias("simhash_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


# --------------------------------------------------------------------------
# SimHash-64: the wider-fingerprint scale path d_simhash's docstring (and
# the SCALE.md sf0.1→sf1 probe) names for duplicate-dense corpora. Bit b
# (0..63) of the fingerprint is the majority vote of bit (b % 4) of hex
# nibble (b // 4) of md5(token) — 4 bits per nibble over the first 16
# nibbles, so the whole 64-bit key still costs ONE md5 per token. Doubling
# the fingerprint width shrinks the hamming-≤3 ball relative to the space
# (C(64,3)/2⁶⁴ vs C(32,3)/2³²), so random-token collisions vanish and the
# output approaches the true near-dup set; candidates come from 8-byte
# pigeonhole banding (hamming ≤ 3 ⇒ ≥ 5 of 8 bytes equal ⇒ some byte
# matches exactly), the same equi-join shape that survives 100 TB.
def _simhash64_terms() -> list[str]:
    """Per-bit vote terms over precomputed nibble columns v0..v15.

    Bit 63's weight is BIGINT min (two's complement: setting the sign bit
    adds -2⁶³); written as `-9223372036854775807 - 1` because the bare
    positive literal overflows the parser in both engines.
    """
    terms = []
    for b in range(64):
        w = str(1 << b) if b < 63 else "(-9223372036854775807 - 1)"
        terms.append(f"(CASE WHEN 2 * c{b} > n THEN {w} ELSE 0 END)")
    return terms


def _simhash64_oracle_expr() -> str:
    """DuckDB lambda twin: same votes from the md5 hex array __md."""
    terms = []
    for b in range(64):
        nb, sh = b // 4 + 1, b % 4
        cnt = (
            f"len(list_filter(__md, h -> "
            f"(CAST('0x' || substr(h, {nb}, 1) AS INT) >> {sh}) & 1 = 1))"
        )
        w = str(1 << b) if b < 63 else "(-9223372036854775807 - 1)"
        terms.append(f"(CASE WHEN 2 * {cnt} > len(__md) THEN {w} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_simhash64_cache: dict[tuple[str, str], DataFrame] = {}


def _simhash64_table(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash64) signature table, cached per (session, corpus) —
    same shared-signature-table doctrine as _simhash_table: explode →
    one md5 per distinct token → 16 nibble-value scalars → a single hash
    aggregate with 64 conditional majority counts (codegen'd, map-side
    combined before the doc_id shuffle). explode_outer keeps token-less
    docs at fingerprint 0, matching the oracle's empty-list votes."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _simhash64_cache.get(key)
    if df is not None:
        return df
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    nibbles = [
        f"CAST(conv(substr(hh, {i + 1}, 1), 16, 10) AS INT) AS v{i}" for i in range(16)
    ]
    e = (
        docs.selectExpr("doc_id", f"explode_outer(array_distinct({TOKS_S})) AS x")
        .selectExpr("doc_id", "md5(x) AS hh")
        .selectExpr("doc_id", "hh", *nibbles)
    )
    bit_counts = [
        F.expr(f"count(CASE WHEN (v{b // 4} >> {b % 4}) & 1 = 1 THEN 1 END)").alias(f"c{b}")
        for b in range(64)
    ]
    g = e.groupBy("doc_id").agg(F.count("hh").alias("n"), *bit_counts)
    vote = " + ".join(_simhash64_terms())
    df = g.selectExpr("doc_id", f"CAST({vote} AS BIGINT) AS simhash64").localCheckpoint(
        eager=True
    )
    _simhash64_cache[key] = df
    return df


@query(
    "d_simhash64",
    oracle=f"""
    WITH md AS (SELECT doc_id, {_simhash_md5s('duck')} AS __md FROM documents),
         h AS (SELECT doc_id, {_simhash64_oracle_expr()} AS simhash64 FROM md)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash64 AS simhash_a, b.simhash64 AS simhash_b,
           CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
    """,
    tags=("dedup:simhash", "join"),
)
def d_simhash64(spark, sf_dir) -> DataFrame:
    # 4-block 16-BIT pigeonhole banding over DISTINCT FINGERPRINTS
    # (hamming ≤ 3 hits ≤ 3 of the 4 blocks, so at least one 16-bit
    # block matches exactly — the Manku block choice for k=3), with the
    # same fingerprint collapse as d_simhash: docs group by exact
    # simhash64 first, candidates/verify run on distinct fingerprints,
    # doc pairs materialize only in the final expansion (within-group
    # cliques + cross-fingerprint pairs). 16-bit keys matter at scale:
    # 8-bit bands give only 256 buckets, and the r09 sf1 probe measured
    # the resulting per-bucket quadratic candidate blowup at 66 s for
    # 44k distinct fingerprints; 65,536-way keys collapse the candidate
    # stage to near-output size (2.4 s total). shiftright is arithmetic
    # on the signed fingerprint, but & 65535 masks back to the raw
    # block, so band values are stable for negative keys.
    h = _simhash64_table(spark, sf_dir)
    fp = h.select("simhash64").distinct().localCheckpoint(eager=True)
    band_pairs = ", ".join(
        f"{b}, CAST(shiftright(simhash64, {16 * b}) & 65535 AS INT)"
        for b in range(4)
    )
    bands = fp.selectExpr(
        "simhash64", f"stack(4, {band_pairs}) AS (band_idx, band_val)"
    )
    x, y = bands.alias("x"), bands.alias("y")
    fpp = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.simhash64") < F.col("y.simhash64")),
        )
        .select(F.col("x.simhash64").alias("fa"), F.col("y.simhash64").alias("fb"))
        .distinct()  # a fingerprint pair can share several bands
        .withColumn("hamming", F.expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .filter(F.col("hamming") <= 3)
    )
    a, b = h.alias("a"), h.alias("b")
    within = (
        a.join(b, (F.col("a.simhash64") == F.col("b.simhash64"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash64").alias("simhash_a"),
            F.col("b.simhash64").alias("simhash_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    cross = (
        fpp.join(a, F.col("a.simhash64") == F.col("fa"))
        .join(b, F.col("b.simhash64") == F.col("fb"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("fa"))
            .otherwise(F.col("fb")).alias("simhash_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("fb"))
            .otherwise(F.col("fa")).alias("simhash_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: exact decimal dot products, pairs > 0.4
@query(
    "d_embedding_neardup",
    oracle=f"""
    WITH n AS (SELECT vec_id, label, embedding AS e,
                      sqrt({odot('embedding', 'embedding')}) AS nrm
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {odot('a.e', 'b.e')} / (a.nrm * b.nrm) AS cosine,
           a.label = b.label AS same_label
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {odot('a.e', 'b.e')} / (a.nrm * b.nrm) > 0.4
    """,
    tags=("dedup:embedding", "similarity"),
)
def d_embedding_neardup(spark, sf_dir) -> DataFrame:
    # Two-phase exact near-dup, fully distributed (no driver collect, no
    # whole-corpus broadcast):
    #   1) CANDIDATES — block-pair matmul. Vectors are hashed into NB blocks
    #      (blk = vec_id % NB); each vector is replicated to the NB block
    #      PAIRS it participates in (explode → one shuffle of NB·n rows),
    #      and each (p1, p2) group computes its A @ B.T cosine block with
    #      one BLAS call inside applyInPandas, keeping pairs above
    #      0.4 - 1e-6 (float64 matmul error over d=64 ≪ 1e-9, so the margin
    #      cannot drop a true match). Exactness is preserved — every pair
    #      of vectors co-occurs in exactly one block pair — while the work
    #      spreads over NB(NB+1)/2 independent tasks whose memory is
    #      2n/NB vectors each. At larger corpora NB scales as
    #      n / (rows that fit a task), keeping per-task memory flat; the
    #      driver never materializes anything.
    #   2) VERIFY — exact-decimal sdot (functions/exact.py) recomputed
    #      Spark-side for survivors only: order-independent, bit-identical
    #      to the DuckDB oracle.
    # For top-k-style retrieval (not exact all-pairs), the LSH/IVF tiers in
    # plans/similarity.py avoid the O(n²/NB²) per-block compute entirely.
    import numpy as np
    import pandas as pd

    NB = 8

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        p1, p2 = int(pdf["p1"].iloc[0]), int(pdf["p2"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        M = np.stack(pdf["embedding"].to_numpy())
        nr = np.sqrt((M * M).sum(axis=1))
        if p1 == p2:
            # both orderings of a same-block pair appear; keep the (a < b) one
            cos = (M @ M.T) / np.outer(nr, nr)
            ai, bi = np.nonzero(cos > 0.4 - 1e-6)
            ga, gb = ids[ai], ids[bi]
            keep = ga < gb
            ga, gb = ga[keep], gb[keep]
        else:
            # each cross-block pair appears exactly once; orient it (a < b)
            a_mask = pdf["blk"].to_numpy() == p1
            A, Am = M[a_mask], ids[a_mask]
            Bv, Bm = M[~a_mask], ids[~a_mask]
            cos = (A @ Bv.T) / np.outer(nr[a_mask], nr[~a_mask])
            ai, bi = np.nonzero(cos > 0.4 - 1e-6)
            ga, gb = np.minimum(Am[ai], Bm[bi]), np.maximum(Am[ai], Bm[bi])
        return pd.DataFrame({"vec_a": ga, "vec_b": gb})

    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    rep = (
        emb.withColumn("blk", F.pmod("vec_id", F.lit(NB)).cast("int"))
        .withColumn("j", F.explode(F.array(*[F.lit(i) for i in range(NB)])))
        .withColumn("p1", F.least("blk", "j"))
        .withColumn("p2", F.greatest("blk", "j"))
    )
    cand = rep.groupBy("p1", "p2").applyInPandas(block_pairs, "vec_a long, vec_b long")

    n = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", "embedding AS e",
        f"sqrt({sdot('embedding', 'embedding')}) AS nrm",
    )
    return (
        cand.join(n.selectExpr("vec_id AS vec_a", "label AS label_a", "e AS ea", "nrm AS nrm_a"), "vec_a")
        .join(n.selectExpr("vec_id AS vec_b", "label AS label_b", "e AS eb", "nrm AS nrm_b"), "vec_b")
        .withColumn("cosine", F.expr(sdot("ea", "eb")) / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cosine") > 0.4)
        .select("vec_a", "vec_b", "cosine", (F.col("label_a") == F.col("label_b")).alias("same_label"))
    )


# --------------------------------------------------------------------------
# Exact substring (token-span) dedup — the "dedup at the span level, not
# the document level" operator from Lee et al., *Deduplicating Training
# Data Makes Language Models Better* (ACL 2022). Document-level dedup
# misses boilerplate shared INSIDE otherwise-distinct pages; span-level
# finds every K-token window that occurs more than once in the corpus.
#
# The suffix-array construction in the paper is single-machine; the
# Spark-native equivalent is the rolling-window hash index: one md5 per
# K-token window (stride 1), one groupBy on the window hash to find
# windows with count > 1, one join back to attribute duplicated spans to
# documents. All shuffles are on the high-cardinality window hash —
# skew-free, linear in corpus size, no pairwise term anywhere.

SPAN_K = 15  # window length in tokens (the paper uses 50 BPE tokens)

_SPANS_S = f"""
  CASE WHEN size({TOKS_S}) >= {SPAN_K} THEN
    transform(sequence(1, size({TOKS_S}) - {SPAN_K - 1}),
      i -> md5(array_join(slice({TOKS_S}, i, {SPAN_K}), ' ')))
  ELSE array() END
""".strip()

_SPANS_D = f"""
  CASE WHEN len({TOKS_D}) >= {SPAN_K} THEN
    list_transform(generate_series(1, len({TOKS_D}) - {SPAN_K - 1}),
      i -> md5(array_to_string({TOKS_D}[i:i + {SPAN_K - 1}], ' ')))
  ELSE CAST([] AS VARCHAR[]) END
""".strip()


@query(
    "d_span_dup",
    oracle=f"""
    WITH arr AS (SELECT doc_id, {_SPANS_D} AS w FROM documents),
    spans AS (SELECT doc_id, unnest(w) AS wh FROM arr),
    c AS (SELECT wh FROM spans GROUP BY wh HAVING COUNT(*) > 1),
    pd AS (SELECT doc_id, COUNT(*) AS n_dup
           FROM spans JOIN c USING (wh) GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(len(a.w) AS BIGINT) AS n_spans,
           CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup_spans
    FROM arr a LEFT JOIN pd USING (doc_id)
    WHERE len(a.w) > 0
    """,
    tags=("dedup:span", "exact-substring"),
)
def d_span_dup(spark, sf_dir) -> DataFrame:
    """Per-document duplicated-span census: of each doc's K-token windows,
    how many occur elsewhere in the corpus (or again in the same doc).
    The window-hash arrays are materialized BEFORE the explode (the
    explode-of-expensive-expression pitfall — see _jaccard_scored_pairs)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    arr = docs.selectExpr("doc_id", f"{_SPANS_S} AS w").localCheckpoint(eager=True)
    spans = arr.select("doc_id", F.explode("w").alias("wh"))
    dup_hashes = (
        spans.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("wh")
    )
    per_doc = spans.join(dup_hashes, "wh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    return (
        arr.select("doc_id", F.expr("CAST(size(w) AS BIGINT)").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
    )


# --------------------------------------------------------------------------
# Sketch-accuracy contract for the minhash tier: over the LSH candidate
# pairs, pin the 12-hash estimator's error against exact Jaccard — the
# same sketch-vs-exact-in-one-statement pinning the aggregation tier
# does for HLL/quantiles (q_sketch_*). Per-pair errors round to 6
# decimals then sum EXACTLY in decimal (order-free), so the cross-engine
# compare is deterministic; the mean is the single final division.
@query(
    "d_minhash_accuracy",
    oracle=f"""
    WITH pairs AS ({_LSH_PAIRS_ORACLE})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {osum('round(abs(est_sim - jaccard), 6)', 6)} AS sum_abs_err,
           MAX(round(abs(est_sim - jaccard), 6)) AS max_abs_err,
           CAST(SUM(CASE WHEN abs(est_sim - jaccard) <= 0.25 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_quarter
    FROM pairs
    """,
    tags=("dedup:minhash-lsh", "sketch-accuracy"),
)
def d_minhash_accuracy(spark, sf_dir) -> DataFrame:
    """How good is the 12-minhash Jaccard estimator on the real candidate
    set? One row: pair count, exact-decimal sum of per-pair |est − exact|,
    the worst error, and how many pairs land within 0.25 (the bound 12
    hashes give with ~±0.14 std). The production decision this feeds:
    whether banding thresholds can be trusted without the exact-verify
    pass at 100 TB."""
    pairs = d_minhash_lsh(spark, sf_dir)
    err6 = F.round(F.abs(F.col("est_sim") - F.col("jaccard")), 6)
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        dsum(err6, 6).alias("sum_abs_err"),
        F.max(err6).alias("max_abs_err"),
        F.sum(
            (F.abs(F.col("est_sim") - F.col("jaccard")) <= 0.25).cast("bigint")
        ).alias("n_within_quarter"),
    )


# --------------------------------------------------------------------------
# SimHash CLUSTER-REPRESENTATIVE output: the shape a real 100 TB dedup job
# ships. d_simhash's own SCALE.md decade probe proved exact pair
# enumeration is OUTPUT-bound on duplicate-dense corpora (hamming-0
# groups alone grow the true pair set ~41× for 10× the docs — a clique of
# k near-dups is k(k-1)/2 pairs); the cluster form emits ONE row per
# component (representative = min doc_id, member count, id checksum), so
# the output is linear in the number of duplicate documents no matter how
# dense the cliques get. Components come from the same banded candidate
# edges via alternating large-star/small-star contraction
# (operators/graph.py — O(log diameter) edge-set shuffles); the oracle
# recomputes components with a recursive-CTE transitive closure, which is
# exactly the O(Σk²) blow-up the Spark side avoids.
@query(
    "d_simhash_clusters",
    oracle=f"""
    WITH RECURSIVE
         md AS (SELECT doc_id, {_simhash_md5s('duck')} AS __md FROM documents),
         h AS (SELECT doc_id, {_simhash_expr('duck')} AS simhash FROM md),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM h a JOIN h b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                   UNION
                   SELECT doc_b AS a, doc_a AS b FROM pairs),
         nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
         reach(s, t) AS (
             SELECT doc_id, doc_id FROM nodes
             UNION
             SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
         ),
         comp AS (SELECT s AS doc_id, MIN(t) AS rep FROM reach GROUP BY s)
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
    FROM comp GROUP BY rep
    """,
    tags=("dedup:simhash", "graph", "clusters"),
)
def d_simhash_clusters(spark, sf_dir) -> DataFrame:
    """Near-dup clusters (rep, size, id-sum) over the simhash hamming≤3
    graph — linear output where d_simhash's pair enumeration is
    quadratic in clique size.

    The graph is contracted in FINGERPRINT space, not document space:
    docs are first collapsed by exact simhash (one row per distinct
    fingerprint: representative doc, member count, id-sum), the banded
    candidate join and the star-contraction run over DISTINCT
    fingerprints only, and per-cluster stats fold the group sizes back
    in at the end. This is the step that makes the operator viable on a
    duplicate-dense corpus: hamming-0 cliques — the sf1 fixture's 50k
    docs hold 270.8M true doc pairs but only 15,708 distinct
    fingerprints (SCALE.md r09 probe; the doc-pair form needed 429 s to
    COUNT its pairs and then exhausted a 48 g heap in contraction,
    while this form finishes in ~10 s) — are never materialized, so the
    edge
    set is quadratic only in DISTINCT near-identical fingerprints, and
    the doc-pair-enumeration lower bound that makes d_simhash
    output-bound does not apply here. A fingerprint group with ≥ 2
    members but no neighboring fingerprint is its own cluster."""
    from ..operators.graph import connected_components

    h = _simhash_table(spark, sf_dir)
    groups = (
        h.groupBy("simhash")
        .agg(
            F.min("doc_id").alias("rep_doc"),
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    fp = groups.select("simhash")
    band_pairs = ", ".join(
        f"{b}, CAST(shiftright(simhash, {8 * b}) & 255 AS INT)" for b in range(4)
    )
    bands = fp.selectExpr(
        "simhash", f"stack(4, {band_pairs}) AS (band_idx, band_val)"
    )
    x, y = bands.alias("x"), bands.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.simhash") < F.col("y.simhash")),
        )
        .select(F.col("x.simhash").alias("u"), F.col("y.simhash").alias("v"))
        .distinct()
        .filter(F.expr("bit_count(u ^ v) <= 3"))
    )
    labels, _rounds = connected_components(edges)  # (doc_id=fingerprint, label)
    labeled = groups.join(
        labels.withColumnRenamed("doc_id", "simhash"), "simhash", "left"
    ).select(
        # isolated fingerprints keep their own value as the component label
        F.coalesce(F.col("label"), F.col("simhash")).alias("comp"),
        "rep_doc", "n", "s",
    )
    return (
        labeled.groupBy("comp")
        .agg(
            F.min("rep_doc").alias("rep"),
            F.sum("n").cast("long").alias("n_members"),
            F.sum("s").cast("long").alias("sum_doc_ids"),
        )
        # drop singleton docs: cluster = docs with at least one near-dup
        .filter(F.col("n_members") >= 2)
        .select("rep", "n_members", "sum_doc_ids")
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup — the CommonCrawl-style first pass: collapse
# fetches of the same logical page reached through superficially different
# URLs (scheme/host case, default port, tracking params, param order,
# trailing slash, fragments). The documents fixture carries no URL column,
# so — exactly like the multimodal family's payloads — a deterministic
# messy URL is constructed per row, exercising every canonicalization rule
# by doc_id residue; the oracle constructs and canonicalizes the SAME URLs
# in DuckDB, so the rules themselves are what's graded.
#
# Scale design (100 TB): canonicalization is pure per-row string work
# inside the scan stage (codegen'd, no UDF); the dedup is ONE hash
# aggregate on the canonical key. Nothing is quadratic; the shuffle key is
# the canonical URL (high cardinality, naturally skew-free — a single
# viral URL with millions of fetches would be the only hot key, and AQE
# skew-split handles that).

def _url_expr(dialect: str) -> str:
    """The deterministic messy URL (identical text in both engines)."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""concat(
      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      CASE WHEN doc_id % 4 < 2 THEN upper(source) ELSE source END,
      '.Example.COM',
      CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
      '/docs/', lang, '/item-', CAST(doc_id % 15 AS {cast}),
      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
      CASE doc_id % 6 WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
                      WHEN 1 THEN '?b=2&a=1'
                      WHEN 2 THEN '?a=1&b=2'
                      WHEN 3 THEN '?a=1&utm_medium=email&b=2'
                      ELSE '' END,
      CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)"""


def _canonical_url_expr(dialect: str, url: str) -> str:
    """Canonical form: drop fragment, lowercase, strip default :443 port,
    strip the trailing slash, drop utm_* tracking params, sort the
    remaining query params. Both dialects implement the same rule
    sequence; only function names differ."""
    base = f"lower(replace(regexp_replace({url}, '#.*$', ''), ':443/', '/'))"
    path = f"regexp_replace(split_part({base}, '?', 1), '/$', '')"
    qs = f"split_part({base}, '?', 2)"
    if dialect == "spark":
        params = (
            f"array_sort(filter(split({qs}, '&'), "
            "x -> x != '' AND NOT startswith(x, 'utm_')))"
        )
        joined = f"array_join({params}, '&')"
        nparams = f"size({params})"
    else:
        params = (
            f"list_sort(list_filter(string_split({qs}, '&'), "
            "x -> x <> '' AND NOT starts_with(x, 'utm_')))"
        )
        joined = f"array_to_string({params}, '&')"
        nparams = f"len({params})"
    return (
        f"concat({path}, CASE WHEN {nparams} > 0 "
        f"THEN concat('?', {joined}) ELSE '' END)"
    )


@query(
    "d_url_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, n_chars,
                      {_canonical_url_expr('duck', _url_expr('duck'))} AS canonical_url
               FROM documents)
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM u GROUP BY canonical_url HAVING COUNT(*) >= 2
    """,
    tags=("dedup:url", "agg"),
)
def d_url_dedup(spark, sf_dir) -> DataFrame:
    """Duplicate-URL groups (≥2 fetches of one canonical URL) with the
    kept representative (min doc_id — 'first fetch wins'). Scan-side
    canonicalization, one hash aggregate; see module notes."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    canon = _canonical_url_expr("spark", _url_expr("spark"))
    return (
        docs.selectExpr("doc_id", "n_chars", f"{canon} AS canonical_url")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --------------------------------------------------------------------------
# Asymmetric containment dedup: |A∩B| / min(|A|,|B|) ≥ 0.8 — catches a
# document EMBEDDED in a larger one (quote farms, concatenated shards,
# boilerplate wrappers), which symmetric Jaccard misses by construction
# (a 50-shingle doc inside a 1000-shingle doc has jaccard ≤ 0.05). Same
# DF-capped inverted-index candidates and hot-term decomposition as the
# jaccard tier, but WITHOUT its size-compatibility prune (that prune is
# exactness-preserving only for jaccard ≥ 0.3; containment pairs are
# size-asymmetric on purpose). Orientation is deterministic: the doc
# with the smaller shingle set is the contained one, ties to the lower
# doc_id.

CONTAINMENT_MIN = 0.8


def _containment_scored_pairs(s: DataFrame) -> DataFrame:
    e = s.selectExpr("doc_id", "size(sh) AS n", "explode(sh) AS shingle").persist()
    e.count()
    hot = (
        e.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
        .persist()
    )
    has_hot = not hot.isEmpty()
    capped = e.join(hot, "shingle", "left_anti") if has_hot else e
    ea, eb = capped.alias("a"), capped.alias("b")
    cnt = (
        ea.join(
            eb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("__nc_capped"),
            F.min(F.col("a.n")).alias("__na"),
            F.min(F.col("b.n")).alias("__nb"),
        )
    )
    if has_hot:
        doc_hot = (
            e.join(hot, "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("__hsh"))
        )
        scored = (
            cnt.join(doc_hot.selectExpr("doc_id AS doc_a", "__hsh AS __ha"), "doc_a", "left")
            .join(doc_hot.selectExpr("doc_id AS doc_b", "__hsh AS __hb"), "doc_b", "left")
            .withColumn(
                "n_common",
                (
                    F.col("__nc_capped")
                    + F.expr(
                        "size(array_intersect(coalesce(__ha, array()), coalesce(__hb, array())))"
                    )
                ).cast("bigint"),
            )
        )
    else:
        scored = cnt.withColumn("n_common", F.col("__nc_capped").cast("bigint"))
    small_is_a = (F.col("__na") < F.col("__nb")) | (
        (F.col("__na") == F.col("__nb"))  # tie: lower doc_id (doc_a < doc_b)
    )
    return (
        scored.withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least("__na", "__nb"),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("contained_id"),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("container_id"),
            "n_common",
            "containment",
        )
    )


@query(
    "d_containment",
    # same candidate contract as d_ngram_jaccard's oracle (capped inverted
    # index), verify = containment against the smaller FULL shingle set,
    # deterministic orientation (smaller set contained; tie -> lower id)
    oracle=f"""
    WITH s AS (SELECT doc_id, {SHINGLES_D} AS sh FROM documents),
         e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         hot AS (SELECT shingle FROM e GROUP BY shingle
                 HAVING COUNT(*) > {MAX_SHINGLE_DF}),
         ec AS (SELECT doc_id, shingle FROM e
                WHERE shingle NOT IN (SELECT shingle FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM ec a JOIN ec b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         v AS (SELECT doc_a, doc_b,
                      CAST(len(sa.sh) + len(sb.sh)
                           - len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS n_common,
                      len(sa.sh) AS na, len(sb.sh) AS nb
               FROM cand JOIN s sa ON sa.doc_id = doc_a
                         JOIN s sb ON sb.doc_id = doc_b)
    SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_id,
           CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS container_id,
           n_common,
           CAST(n_common AS DOUBLE) / LEAST(na, nb) AS containment
    FROM v
    WHERE CAST(n_common AS DOUBLE) / LEAST(na, nb) >= {CONTAINMENT_MIN}
    """,
    tags=("dedup:containment", "join"),
)
def d_containment(spark, sf_dir) -> DataFrame:
    """Near-containment pairs over the shared shingle signature table;
    see `_containment_scored_pairs` for the decomposition and why the
    jaccard size prune must NOT apply here."""
    return _containment_scored_pairs(shingle_arrays_for(spark, sf_dir))


# --------------------------------------------------------------------------
# Incremental (cross-run) dedup against a PERSISTED signature table.
#
# Production shape for day 2 of a 100 TB pipeline: the corpus's MinHash
# signatures live in a SnapshotTable written once (the day-1 build); each
# NEW ingest batch is signatured in O(batch) — the only pass that touches
# TEXT — then band-joined against the persisted signatures, and finally
# appended to the store as a new snapshot (the incremental twin of the
# reference's snapshot-range consumption, bronze-silver.py:146-149,
# applied to the dedup family). Corpus text is never rescanned: the store
# scan reads ~100 bytes/doc of signature columns instead of KBs of text,
# is column-pruned to the band keys + minhashes, and — because the batch
# side is small — AQE broadcasts the batch bands, so the store is
# STREAMED, never shuffled.

_SIG_COLS = [f"mh{i}" for i in range(N_MINHASH)]
_SIG_DDL = "doc_id bigint, " + ", ".join(f"{c} bigint" for c in _SIG_COLS) + \
    ", " + ", ".join(f"band{b} string" for b in range(N_BANDS))


def minhash_signature_df(docs: DataFrame) -> DataFrame:
    """doc_id, mh0..mh{K-1}, band0..band{B-1} from text — one linear
    codegen'd scan (explode → md5 → K partial-agg MINs, map-side combined
    before the doc_id shuffle), identical arithmetic to `d_minhash_lsh`."""
    e = (
        docs.selectExpr("doc_id", f"{SHINGLES_S} AS __sh")
        .selectExpr("doc_id", "explode_outer(__sh) AS x")
        .selectExpr("doc_id", f"{_H32_S} AS h")
    )
    sig = e.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({_MH_A[i]} * h + {_MH_B[i]}) % {_MH_P})").alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )
    return sig.selectExpr("*", *_band_exprs())


def build_signature_store(spark, docs: DataFrame, root: str):
    """Day-1 build: signature the corpus ONCE and persist as a
    SnapshotTable (snapshot 1 = the corpus signatures)."""
    from ..tables import SnapshotTable

    t = SnapshotTable.create(spark, root, _SIG_DDL)
    t.write(minhash_signature_df(docs))
    return t


def _bands_long(df: DataFrame, id_alias: str) -> DataFrame:
    stack_args = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    return df.selectExpr(
        f"doc_id AS {id_alias}",
        f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)",
    )


def _bands_long_mh(df: DataFrame, id_alias: str, mh_alias: str) -> DataFrame:
    """`_bands_long` carrying the minhash signature as an array column, so
    a band join can compute signature-agreement similarity on the
    collision row itself instead of re-joining each endpoint against a
    second (and third) stream of the store (r16, verdict task 1)."""
    stack_args = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    mh_arr = "array(" + ", ".join(_SIG_COLS) + ")"
    return df.selectExpr(
        f"doc_id AS {id_alias}",
        f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)",
        f"{mh_arr} AS {mh_alias}",
    )


def _append_new_ids(
    store,
    frame: DataFrame,
    key: str = "doc_id",
    warn_on_drop: bool = False,
    **write_kw,
):
    """Keyed-idempotent store append: anti-join the batch against the
    existing store ids before writing, so calling a library append twice
    (or `CALL system.dedup_batch(..., append => true)` replayed outside
    the streaming scope guard) cannot double-append signatures. The
    downstream plans treat unique-id as a store invariant (the signature
    lookup union and the exact tier's group counts would double-count
    duplicated rows), so the invariant is enforced at the only place
    rows enter — the same anti-join `decontaminate_batch` applies to its
    gram appends. Cost: one column-pruned store-id stream against the
    (small, AQE-broadcast) batch id set per append. Text updates to an
    EXISTING id are not an append — the signature tiers route them
    through apply_cdc_batch (retract-then-upsert), and the cluster tier's
    kernel (`_cluster_cdc`) calls this only for a batch that replaces no
    stored key, upserting any other through its op-column MERGE;
    `warn_on_drop=True` (debug/audit paths) makes
    that misuse visible: colliding ids are counted (one extra semi-join
    job, off the default hot path) and reported with a warning instead
    of being silently ignored (ADVICE r12)."""
    existing = store.scan().select(key)
    if warn_on_drop:
        dropped = frame.select(key).join(existing, key, "left_semi").count()
        if dropped:
            import warnings

            warnings.warn(
                f"_append_new_ids: dropped {dropped} row(s) whose {key} already "
                "exists in the store — if their text changed, the stale stored "
                "signature survives; route updates through apply_cdc_batch "
                "(retract-then-upsert)",
                stacklevel=2,
            )
    store.write(frame.join(existing, key, "left_anti"), **write_kw)


def _batch_band_candidates(batch_sig: DataFrame, others: DataFrame) -> DataFrame:
    """Banded candidate pairs for a batch: batch-vs-store band collisions
    plus batch-internal ones — (doc_a < doc_b), distinct. The pair set
    `dedup_batch_incremental` computes on the band join before it adds
    `est_sim` (its pytest reference)."""
    bl = _bands_long(batch_sig, "b_id")
    sl = _bands_long(others, "s_id")
    vs_store = bl.join(sl, ["band_idx", "band_key"]).selectExpr(
        "least(b_id, s_id) AS doc_a", "greatest(b_id, s_id) AS doc_b"
    )
    x, y = bl.alias("x"), bl.selectExpr("b_id AS y_id", "band_idx", "band_key").alias("y")
    vs_self = x.join(
        y,
        (F.col("x.band_idx") == F.col("y.band_idx"))
        & (F.col("x.band_key") == F.col("y.band_key"))
        & (F.col("x.b_id") < F.col("y.y_id")),
    ).selectExpr("b_id AS doc_a", "y_id AS doc_b")
    return vs_store.unionByName(vs_self).distinct()


def dedup_batch_incremental(
    spark,
    batch_docs: DataFrame,
    store,
    append: bool = True,
    batch_sig: DataFrame | None = None,
    summary_extra: dict | None = None,
) -> DataFrame:
    """Dedup a NEW batch against the persisted signature store in
    O(batch + matches) text work: signature the batch (the only pass over
    text), band-join its bands against the store's AND against itself
    (new dups can arrive inside one batch), estimate similarity from
    signature agreement alone — no shingle arrays, no text columns — and,
    when `append`, commit the batch's signatures to the store as a new
    snapshot so the NEXT batch sees them. Returns (doc_a, doc_b, est_sim)
    with doc_a < doc_b, one row per banded candidate pair.

    `batch_sig` lets a caller that already signatured the batch (the
    exactly-once streaming shape, which must stamp the append with a
    replay guard BEFORE computing verdicts) pass it in; `summary_extra`
    is stamped into the append commit atomically (the store-side half of
    that guard). The verdict computation itself is REPLAY-IDEMPOTENT:
    the store side anti-joins the batch's own ids out, so running with
    append=False against a store that already holds this batch's
    signatures returns exactly what the original append=True run did."""
    if batch_sig is None:
        batch_sig = minhash_signature_df(batch_docs).localCheckpoint(eager=True)
    if append:
        _append_new_ids(store, batch_sig, summary_extra=summary_extra)
    # store doc_ids that pre-date this batch (the store scan includes the
    # just-appended snapshot when append=True — exclude the batch's own
    # ids to avoid self-pairs; batch-internal pairs come from the
    # self-join below). The anti-join streams the store against the
    # (small, AQE-broadcast) batch id set.
    others = store.scan().join(batch_sig.select("doc_id"), "doc_id", "left_anti")

    # est_sim rides the band join itself (r16): both endpoints' minhash
    # arrays are already on the collision row, so the signature-agreement
    # similarity is computed there and the two signature-lookup joins of
    # the r15 shape (cand ⋈ ma ⋈ mb — two EXTRA column-pruned streams of
    # the store per batch, and the join whose materialization shape
    # regressed under the drain's AQE-off scope, r15 verdict task 1) are
    # gone: ONE store stream total. est_sim is a deterministic function
    # of the pair, so distinct over (doc_a, doc_b, est_sim) equals the
    # old distinct-pairs-then-lookup result row for row; the shuffled
    # distinct rows are 3 narrow columns either way (the arrays live only
    # map-side between the join and the projection).
    est = (
        f"CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), v -> v)) AS DOUBLE)"
        f" / {N_MINHASH} AS est_sim"
    )
    bl = _bands_long_mh(batch_sig, "b_id", "b_mh")
    sl = _bands_long_mh(others, "s_id", "s_mh")
    vs_store = bl.join(sl, ["band_idx", "band_key"]).selectExpr(
        "least(b_id, s_id) AS doc_a",
        "greatest(b_id, s_id) AS doc_b",
        "b_mh AS mha",
        "s_mh AS mhb",
    )
    x = bl.alias("x")
    y = bl.selectExpr("b_id AS y_id", "band_idx", "band_key", "b_mh AS y_mh").alias("y")
    vs_self = x.join(
        y,
        (F.col("x.band_idx") == F.col("y.band_idx"))
        & (F.col("x.band_key") == F.col("y.band_key"))
        & (F.col("x.b_id") < F.col("y.y_id")),
    ).selectExpr("b_id AS doc_a", "y_id AS doc_b", "b_mh AS mha", "y_mh AS mhb")
    return (
        vs_store.unionByName(vs_self)
        .selectExpr("doc_a", "doc_b", est)
        .distinct()
    )


_incr_store_cache: dict[str, str] = {}


def _incremental_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted signature store, built ONCE per process from
    the corpus slice (doc_id % 5 != 0) — the day-1 state the graded query
    deduplicates its batch against."""
    from ..catalog import persisted_store_for

    def build(root):
        corpus = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 5 != 0"
        ).select("doc_id", "text")
        build_signature_store(spark, corpus, root)

    return persisted_store_for(
        spark, sf_dir, _incr_store_cache, "eiws_incrdedup_", "sigs", build
    )


# Ground truth for the incremental MinHash tier: the FULL-corpus LSH
# recompute on the union (identical machinery to d_minhash_lsh's oracle),
# restricted to the pairs the incremental run is responsible for — those
# touching the new batch (doc_id % 5 = 0). Agreement proves batch-vs-corpus
# AND batch-vs-batch candidate completeness plus signature-exact est_sim.
# Shared by d_incremental (one-shot batch) and q_stream_incremental_dedup
# (the same work split across micro-batches — the union of per-batch
# verdicts is batching-invariant, so ONE contract covers both).
INCR_PAIRS_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_D} AS __sh FROM documents),
         hs AS (SELECT doc_id, {HASHED_SHINGLES_D} AS __hs FROM s),
         m AS (SELECT doc_id, {', '.join(_minhash_exprs('duck'))} FROM hs),
         b AS (SELECT *, {', '.join(_band_exprs())} FROM m),
         long AS (
           SELECT doc_id, band_idx, band_key FROM (
             SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM b
             UNION ALL SELECT doc_id, 1, band1 FROM b
             UNION ALL SELECT doc_id, 2, band2 FROM b
             UNION ALL SELECT doc_id, 3, band3 FROM b)
         ),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM long x JOIN long y
                  ON x.band_key = y.band_key AND x.band_idx = y.band_idx
                     AND x.doc_id < y.doc_id
                  WHERE x.doc_id % 5 = 0 OR y.doc_id % 5 = 0)
    SELECT doc_a, doc_b,
           CAST(len(list_filter(list_zip(
                  [ma.mh0, ma.mh1, ma.mh2, ma.mh3, ma.mh4, ma.mh5, ma.mh6, ma.mh7, ma.mh8, ma.mh9, ma.mh10, ma.mh11],
                  [mb.mh0, mb.mh1, mb.mh2, mb.mh3, mb.mh4, mb.mh5, mb.mh6, mb.mh7, mb.mh8, mb.mh9, mb.mh10, mb.mh11]),
                p -> p[1] = p[2])) AS DOUBLE) / {N_MINHASH} AS est_sim
    FROM cand JOIN m ma ON ma.doc_id = doc_a JOIN m mb ON mb.doc_id = doc_b
    """


@query(
    "d_incremental",
    oracle=INCR_PAIRS_ORACLE,
    tags=("dedup:incremental", "join", "snapshot-table"),
)
def d_incremental(spark, sf_dir) -> DataFrame:
    """Incremental dedup of a new batch (doc_id % 5 = 0) against the
    persisted corpus signature store — the batch run touches batch TEXT
    only; the corpus contributes nothing but its signature parquet
    (proven by plan assertion in tests/test_round11_ops.py)."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    # append=False: the graded query must be idempotent across runs in one
    # process; the append path is exercised by the pytest
    return dedup_batch_incremental(spark, batch, store, append=False)


def minhash_batch_verdicts(
    spark,
    batch_docs: DataFrame,
    store,
    append: bool = True,
    batch_sig: DataFrame | None = None,
) -> DataFrame:
    """BOUNDED-output incremental MinHash dedup: one row per batch doc
    that has >= 1 LSH-banded partner in the store or the batch —
    (doc_id, n_partners, best_sim, best_partner), best = highest
    signature-estimated similarity, ties broken by smallest partner id.

    The pair form (`dedup_batch_incremental`) enumerates every banded
    doc pair and is output-bound on dup-dense corpora (the same
    enumeration bound SCALE.md measured at 113x/decade for the simhash
    pair form). This twin computes verdicts ENTIRELY at the signature
    level, with the store pruned by a PROVABLY bounded broadcast:

    1. the batch's distinct (band_idx, band_key) set (<= N_BANDS x
       |batch| rows at ANY store scale) broadcast-semi-joins the store's
       band-long projection — a map-only pass over the 100 B/doc
       signature parquet; only candidate docs (sharing >= 1 band with
       the batch) survive;
    2. per-signature stats (count, min id, second-min id for the
       same-signature bucket's self-exclusion) aggregate CANDIDATES
       only — untouched corpus signatures never reach a shuffle;
    3. banded signature pairs (batch sigs x candidate sigs) carry the
       signature-agreement similarity; a per-batch-signature aggregate
       (one row per batch sig — corpus-size-free, broadcast) folds
       partner counts and the (max sim, min partner) tie-break;
    4. batch docs join their same-signature bucket and the cross
       aggregate — identical-signature partners (sim = 1.0) always
       dominate cross partners (sim <= 11/12), matching the oracle's
       composite-key MIN.

    Docs sharing the batch doc's exact signature share all bands, so the
    band prune loses no partner; every partner doc is counted exactly
    once (same-bucket via its group count, cross via its signature's
    candidate count, signatures disjoint)."""
    if batch_sig is None:
        batch_sig = minhash_signature_df(batch_docs).localCheckpoint(eager=True)
    if append:
        _append_new_ids(store, batch_sig)
    # replay-proof universe: (store minus batch ids) ∪ batch — exactly one
    # row per doc whether or not the store already holds this batch (the
    # dropDuplicates below would mask an accidental double-count of
    # IDENTICAL rows, but the invariant belongs here, not downstream)
    other = store.scan().join(
        batch_sig.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(batch_sig)

    skey = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in _SIG_COLS]))
    mh_arr = "array(" + ", ".join(_SIG_COLS) + ")"
    band_cols = [f"band{b}" for b in range(N_BANDS)]
    stack_args = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))

    # (1) map-only band prune of the store against the bounded batch
    # band-key set
    bb = _bands_long(batch_sig, "b_id").select("band_idx", "band_key").distinct()
    u_long = other.selectExpr(
        "doc_id",
        *_SIG_COLS,
        *band_cols,
        f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)",
    )
    cand = (
        u_long.join(F.broadcast(bb), ["band_idx", "band_key"], "left_semi")
        .dropDuplicates(["doc_id"])  # a doc can match on several bands
        .drop("band_idx", "band_key")
        .withColumn("skey", skey)
    )

    # (2) per-signature stats over candidates only
    s1 = cand.groupBy("skey", *_SIG_COLS, *band_cols).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("doc_id").alias("min1"),
    )
    bs = batch_sig.withColumn("skey", skey)
    bsk = bs.select("skey").distinct()
    cand_b = cand.join(F.broadcast(bsk), "skey", "left_semi")
    m2 = (
        cand_b.join(s1.select("skey", "min1"), "skey")
        .filter(F.col("doc_id") > F.col("min1"))
        .groupBy("skey")
        .agg(F.min("doc_id").alias("min2"))
    )

    # (3) banded signature pairs + per-batch-signature cross aggregate
    bdist = bs.select("skey", *_SIG_COLS, *band_cols).distinct()
    bl = bdist.selectExpr(
        "skey AS ka",
        f"{mh_arr} AS mha",
        f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)",
    )
    ol = s1.selectExpr(
        "skey AS kb",
        f"{mh_arr} AS mhb",
        "cnt AS cntb",
        "min1 AS minb",
        f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)",
    )
    spp = (
        bl.join(ol, ["band_idx", "band_key"])
        .filter("ka <> kb")
        .select("ka", "kb", "mha", "mhb", "cntb", "minb")
        .distinct()
        .withColumn(
            "invk",
            F.expr(
                f"CAST({N_MINHASH} - size(filter("
                "zip_with(mha, mhb, (x, y) -> x = y), v -> v)) AS BIGINT)"
            ),
        )
    )
    cross_agg = (
        spp.groupBy("ka")
        .agg(
            F.sum("cntb").cast("long").alias("cnt1"),
            F.min(F.struct(F.col("invk"), F.col("minb"))).alias("best1"),
        )
        .withColumnRenamed("ka", "skey")
    )

    # (4) verdict per batch doc; identical-signature partners dominate.
    # m2 groups the batch-signature slice, so it holds <= |batch sigs|
    # rows at any store scale — safe to hint
    same = s1.selectExpr("skey", "cnt AS cnt0", "min1 AS s_min1").join(
        F.broadcast(m2), "skey", "left"
    )
    return (
        bs.select("doc_id", "skey")
        .join(same, "skey")  # every batch doc's signature is a candidate
        .join(F.broadcast(cross_agg), "skey", "left")
        .selectExpr(
            "doc_id",
            "CAST((cnt0 - 1) + coalesce(cnt1, 0) AS BIGINT) AS n_partners",
            f"CAST(CASE WHEN cnt0 >= 2 THEN {N_MINHASH}"
            f" ELSE {N_MINHASH} - best1.invk END AS DOUBLE) / {N_MINHASH}"
            " AS best_sim",
            "CAST(CASE WHEN cnt0 >= 2 THEN"
            " (CASE WHEN s_min1 <> doc_id THEN s_min1 ELSE min2 END)"
            " ELSE best1.minb END AS BIGINT) AS best_partner",
        )
        .filter("n_partners > 0")
    )


@query(
    "d_incremental_verdicts",
    # Ground truth: the full-corpus LSH recompute on the union, aggregated
    # to the SAME bounded per-batch-doc verdict — partner count over
    # distinct banded partners, best similarity, and the smallest partner
    # at the best similarity (composite-key MIN makes the tie-break
    # identical in both engines; identical-signature partners carry
    # k = N_MINHASH so they dominate exactly as the Spark same-bucket
    # branch does)
    oracle=f"""
    WITH s AS (SELECT doc_id, {SHINGLES_D} AS __sh FROM documents),
         hs AS (SELECT doc_id, {HASHED_SHINGLES_D} AS __hs FROM s),
         m AS (SELECT doc_id, {', '.join(_minhash_exprs('duck'))} FROM hs),
         b AS (SELECT *, {', '.join(_band_exprs())} FROM m),
         long AS (
           SELECT doc_id, band_idx, band_key FROM (
             SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM b
             UNION ALL SELECT doc_id, 1, band1 FROM b
             UNION ALL SELECT doc_id, 2, band2 FROM b
             UNION ALL SELECT doc_id, 3, band3 FROM b)
         ),
         cand AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS partner
                  FROM long x JOIN long y
                  ON x.band_key = y.band_key AND x.band_idx = y.band_idx
                     AND x.doc_id <> y.doc_id
                  WHERE x.doc_id % 5 = 0),
         p AS (SELECT c.doc_id, c.partner,
                      len(list_filter(list_zip(
                        [ma.mh0, ma.mh1, ma.mh2, ma.mh3, ma.mh4, ma.mh5, ma.mh6, ma.mh7, ma.mh8, ma.mh9, ma.mh10, ma.mh11],
                        [mb.mh0, mb.mh1, mb.mh2, mb.mh3, mb.mh4, mb.mh5, mb.mh6, mb.mh7, mb.mh8, mb.mh9, mb.mh10, mb.mh11]),
                        q -> q[1] = q[2])) AS k
               FROM cand c JOIN m ma ON ma.doc_id = c.doc_id
                           JOIN m mb ON mb.doc_id = c.partner)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           CAST({N_MINHASH} - (MIN(({N_MINHASH} - k) * 10000000000 + partner)
                               // 10000000000) AS DOUBLE) / {N_MINHASH}
             AS best_sim,
           CAST(MIN(({N_MINHASH} - k) * 10000000000 + partner) % 10000000000
                AS BIGINT) AS best_partner
    FROM p GROUP BY doc_id
    """,
    tags=("dedup:incremental", "join", "snapshot-table"),
)
def d_incremental_verdicts(spark, sf_dir) -> DataFrame:
    """Incremental MinHash dedup of the batch slice (doc_id % 5 = 0)
    against the persisted signature store, BOUNDED-OUTPUT verdict form —
    the twin of `d_incremental` that a 100 TB ingest gate actually ships:
    one row per batch doc, no doc-pair enumeration, store pruned by the
    batch's broadcast band-key set before any shuffle."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    return minhash_batch_verdicts(spark, batch, store, append=False)


# --------------------------------------------------------------------------
# Incremental EXACT tier: the cheapest cross-run dedup — the persisted
# store holds one md5 per doc (16 bytes), the batch run hashes batch text
# ONLY, and group statistics are computed in hash space on the store rows
# the batch actually touches (a semi-join keeps the store STREAMED and
# prunes untouched groups before any aggregation). Verdict per batch doc
# is identical to the full-corpus d_exact_dup window restricted to the
# batch: group_size / canonical_id / is_dup over store ∪ batch.

_EXACT_DDL = "doc_id bigint, text_hash string"


def build_exact_hash_store(spark, docs: DataFrame, root: str):
    """Day-1 build: hash the corpus ONCE (md5(text), the same key as
    d_exact_dup) and persist as a SnapshotTable."""
    from ..tables import SnapshotTable

    t = SnapshotTable.create(spark, root, _EXACT_DDL)
    t.write(docs.select("doc_id", F.md5("text").alias("text_hash")))
    return t


def dedup_batch_incremental_exact(
    spark, batch_docs: DataFrame, store, append: bool = True
) -> DataFrame:
    """Exact-dup verdicts for a NEW batch in O(batch + matches) work:
    hash the batch (the only pass over text), semi-join the persisted
    hash store down to the hash groups the batch touches, aggregate
    group_size / canonical_id per hash, and join back to the batch. When
    `append`, the batch's hashes commit to the store as a new snapshot so
    the NEXT batch sees them. Returns one verdict row PER BATCH DOC
    (bounded output — never a pair stream): (doc_id, text_hash,
    group_size, canonical_id, is_dup), equal to the full-corpus
    d_exact_dup window over store ∪ batch restricted to batch docs."""
    batch_h = batch_docs.select(
        "doc_id", F.md5("text").alias("text_hash")
    ).localCheckpoint(eager=True)
    if append:
        _append_new_ids(store, batch_h)
    # store docs that pre-date this batch (exclude the just-appended ids)
    others = store.scan().join(batch_h.select("doc_id"), "doc_id", "left_anti")
    all_h = others.unionByName(batch_h)
    # prune to groups the batch touches BEFORE aggregating — the store is
    # streamed through a semi-join against the (small, AQE-broadcast)
    # batch hash set, so untouched corpus groups never reach the shuffle
    touched = all_h.join(
        batch_h.select("text_hash").distinct(), "text_hash", "left_semi"
    )
    g = touched.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("canonical_id"),
    )
    return batch_h.join(g, "text_hash").select(
        "doc_id",
        "text_hash",
        "group_size",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


_incr_exact_store_cache: dict[str, str] = {}


def _incremental_exact_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted hash store, built ONCE per process from the
    corpus slice (doc_id % 5 != 0) — same day-1/day-2 split as the
    MinHash and SimHash incremental tiers."""
    from ..catalog import persisted_store_for

    def build(root):
        corpus = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 5 != 0"
        ).select("doc_id", "text")
        build_exact_hash_store(spark, corpus, root)

    return persisted_store_for(
        spark, sf_dir, _incr_exact_store_cache, "eiws_increxact_", "hashes", build
    )


@query(
    "d_incremental_exact",
    # Ground truth: the full-corpus exact-dup recompute (d_exact_dup's
    # hash-group window, in join form) restricted to the batch docs the
    # incremental run verdicts — agreement proves the store semi-join
    # loses no group member and the canonical/min tie-break matches.
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
         g AS (SELECT text_hash, COUNT(*) AS group_size,
                      MIN(doc_id) AS canonical_id
               FROM h GROUP BY text_hash)
    SELECT h.doc_id, h.text_hash, g.group_size, g.canonical_id,
           h.doc_id <> g.canonical_id AS is_dup
    FROM h JOIN g USING (text_hash)
    WHERE h.doc_id % 5 = 0
    """,
    tags=("dedup:incremental-exact", "join", "snapshot-table"),
)
def d_incremental_exact(spark, sf_dir) -> DataFrame:
    """Incremental EXACT dedup of a new batch (doc_id % 5 = 0) against
    the persisted md5 store — completes the cross-run family's cheapest
    tier (exact ↔ MinHash ↔ SimHash ↔ semantic). Batch text is hashed
    once; the corpus contributes only its 16-byte-per-doc hash parquet."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_exact_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    # append=False: graded query stays idempotent across in-process runs;
    # the append path is exercised by pytest
    return dedup_batch_incremental_exact(spark, batch, store, append=False)


# --------------------------------------------------------------------------
# Retraction: the day-2 stores are append-only under normal ingest, but a
# doc REMOVED from the corpus (takedown, license filter — the reference's
# own CDC stream carries Op='D', datagen/raw-datagen.py:16) must stop
# producing dup verdicts. The stores are SnapshotTables with sequence-
# aware equality deletes, so `retract_batch` is one O(|ids|) delete
# commit — no store rewrite, no corpus rescan. The cluster tier commits
# a D-only batch's signature deletes the same way (`_cluster_cdc`).


def retract_batch(
    store, ids: DataFrame, key: str = "doc_id", summary_extra: dict | None = None
) -> int:
    """Retract documents from ANY incremental store keyed on `key`:
    MinHash/SimHash signature stores and the exact md5 store (doc_id),
    the semantic assignment store (vec_id), the benchmark gram store
    (g — pass the withdrawn benchmark's grams). One merge-on-read
    equality-delete commit; every later batch verdict equals the full
    recompute on corpus-minus-retracted (tests/test_round12_ops.py).
    `summary_extra` is stamped into the delete commit (the streaming
    replay-guard carrier). Returns the delete snapshot id."""
    return store.delete_keys(ids, [key], summary_extra=summary_extra)


def apply_cdc_batch(
    spark,
    store,
    cdc_df: DataFrame,
    sig_fn,
    batch_id: int | None = None,
    scope: str | None = None,
) -> bool:
    """Fold one CDC micro-batch into an incremental signature store.
    `cdc_df` carries (Op, doc_id, text) with Op ∈ I/U/D — the reference
    datagen's CDC shape (`datagen/raw-datagen.py:16`). D and U keys are
    retracted FIRST (one equality-delete commit), then I and U rows are
    signatured (`sig_fn`: minhash_signature_df / simhash_signature_df /
    the md5 projection) and appended. Order matters: the delete masks
    only rows committed before it, so the U re-append is visible —
    retract-then-upsert, the same sequence-number rule Iceberg applies.

    Replay safety (ADVICE r12): the append routes through
    `_append_new_ids`, so even an UNGUARDED replay cannot double-append
    I rows whose keys were never retracted (the unique-id store
    invariant holds; U keys were just re-retracted, so their re-append
    lands — same signatures, same final state). Callers with a
    replayable source additionally pass `(batch_id, scope)`: a batch
    whose same-scope stamp is already committed is skipped outright, and
    the batch's LAST commit carries the stamp (the delete when the batch
    is deletes-only, else the append) — a crash between the two commits
    leaves the stamp unwritten, so the replay re-runs both halves: the
    re-retract is a masked no-op, the re-append restores the missing
    signatures. Returns True when this call committed (False = replay
    skip or empty batch)."""
    stamp = store.stream_stamp(scope, batch_id)
    if stamp is None:
        return False
    dels = cdc_df.filter(F.col("Op").isin("D", "U")).select("doc_id")
    ups = cdc_df.filter(F.col("Op").isin("I", "U")).select("doc_id", "text")
    has_ups = bool(ups.limit(1).count())
    committed = False
    if dels.limit(1).count():
        retract_batch(store, dels, summary_extra=None if has_ups else stamp)
        committed = True
    if has_ups:
        _append_new_ids(store, sig_fn(ups), summary_extra=stamp)
        committed = True
    return committed


_incr_retract_store_cache: dict[str, str] = {}


def _incremental_retract_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir exact-hash store that has ALREADY taken a retraction:
    day-1 writes the corpus slice (doc_id % 5 != 0), day-1.5 equality-
    deletes the takedown slice (doc_id % 7 = 1) — the graded query then
    verdicts the day-2 batch against the post-retraction state."""
    from ..catalog import persisted_store_for
    from ..tables import SnapshotTable

    def build(root):
        corpus = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 5 != 0"
        ).select("doc_id", "text")
        build_exact_hash_store(spark, corpus, root)
        retract_batch(
            SnapshotTable(spark, root),
            corpus.filter("doc_id % 7 = 1").select("doc_id"),
        )

    return persisted_store_for(
        spark, sf_dir, _incr_retract_store_cache, "eiws_incrretract_", "hashes", build
    )


@query(
    "d_incremental_retract",
    # Ground truth: the exact-dup recompute over corpus-MINUS-retracted
    # plus the batch — if the equality delete left any signature behind,
    # a retracted doc would inflate group_size / steal canonical_id and
    # the hash comparison fails
    oracle="""
    WITH u AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 5 = 0 OR doc_id % 7 <> 1),
         h AS (SELECT doc_id, md5(text) AS text_hash FROM u),
         g AS (SELECT text_hash, COUNT(*) AS group_size,
                      MIN(doc_id) AS canonical_id
               FROM h GROUP BY text_hash)
    SELECT h.doc_id, h.text_hash, g.group_size, g.canonical_id,
           h.doc_id <> g.canonical_id AS is_dup
    FROM h JOIN g USING (text_hash)
    WHERE h.doc_id % 5 = 0
    """,
    tags=("dedup:incremental-retract", "join", "snapshot-table"),
)
def d_incremental_retract(spark, sf_dir) -> DataFrame:
    """Incremental exact dedup of the batch slice (doc_id % 5 = 0)
    against a store that RETRACTED the takedown slice (doc_id % 7 = 1 of
    the day-1 corpus) — proves the deletion path end-to-end: the
    equality-delete commit masks retracted signatures at scan, so
    verdicts match the full recompute on corpus-minus-retracted."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_retract_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    return dedup_batch_incremental_exact(spark, batch, store, append=False)


# --------------------------------------------------------------------------
# Incremental dup-CLUSTER maintenance — the last day-2 tier (VERDICT r12
# task 5): `d_simhash_clusters`/`c_dup_groups` recompute connected
# components from scratch each run; the production shape folds a batch's
# changes into PERSISTED component labels. State = a (doc_id, label)
# SnapshotTable over the corpus (label = the component's min doc_id; an
# isolated doc labels itself) next to the minhash signature store, the
# edge source of record (an edge IS a band collision, the arithmetic of
# `build_label_store`). Every change is one CDC batch of (Op, doc_id,
# text) rows through one kernel, `_cluster_cdc`: a fold is an I-only
# batch, a retraction a D-only batch. Only the components the batch
# touches are re-labeled: the components of its stored keys are
# re-derived from their surviving members' signature edges (a removed doc
# can SPLIT its component, which carried labels cannot witness), and the
# components its new edges reach contribute member→label star edges
# (connectivity-equivalent to their original edges). Untouched labels are
# carried verbatim, so the result equals the full recompute exactly.

_LABELS_DDL = "doc_id bigint, label bigint"


def _fresh_ids(df: DataFrame) -> DataFrame:
    """Mint fresh expression ids by re-aliasing every column.

    `localCheckpoint` preserves the origin plan's exprIds, so joining a
    checkpointed derivative back against its origin exposes the SAME
    attribute (e.g. `label#N`) on both join sides; with
    `spark.sql.adaptive.enabled=false` Catalyst's analyzer throws
    `[INTERNAL_ERROR] conflicting references` at DataFrame construction
    time (r13 VERDICT What's wrong #1 — the three cluster-tier plans
    shipped as ERROR stubs in EXPLAIN.md). An Alias always allocates a
    new ExprId, so one Project on top of the checkpointed RDD breaks the
    aliasing and the plans analyze under any AQE setting."""
    return df.select(*[F.col(c).alias(c) for c in df.columns])


def _in_ids(ids) -> Column:
    """`doc_id IN (<ids>)` over an id set the driver already holds.

    Store scans filter on the literal list instead of semi-joining a
    labels_df frame of the ids: that join broadcasts the frame, one Spark
    job per probe, for data that never left the driver. The list is
    parsed from ONE SQL string because `Column.isin(list)` makes a py4j
    call per literal (~0.2s per 400 ids); both build the same `In`
    expression. The literals are bigint (`L`), the store key's type, so
    the analyzer adds no cast per literal (100k ids: 1.3s, not 6.5s)."""
    if not ids:
        return F.lit(False)
    return F.expr(f"doc_id IN ({', '.join(f'{int(i)}L' for i in sorted(ids))})")


def build_label_store(spark, sig_store, root: str):
    """Day-1 cluster build: banded candidate edges from the persisted
    signature store (the d_minhash_lsh self-join, fingerprint-level), one
    star-contraction (O(log diameter) edge shuffles, operators/graph.py),
    then a label for EVERY corpus doc (isolated docs label themselves) —
    persisted as a SnapshotTable so day-2 batches fold in O(touched)."""
    from ..operators.graph import connected_components
    from ..tables import SnapshotTable

    sigs = sig_store.scan()
    labels, _rounds = connected_components(_band_edges(sigs, sigs))
    full = sigs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
    )
    t = SnapshotTable.create(
        spark, root, _LABELS_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.write(full)
    return t


def fold_batch_clusters(
    spark,
    batch_docs: DataFrame,
    sig_store,
    label_store,
    append: bool = False,
) -> DataFrame:
    """Fold one batch of (doc_id, text) docs into the persisted component
    labels — an I-only batch through `_cluster_cdc` — and return the FULL
    post-fold label table (doc_id, label), equal by construction to a
    from-scratch recompute over the stored signatures (oracle-checked by
    `d_incremental_clusters`; sequential folds compose, pytest). `append`
    commits the signatures and the changed labels; `append=False` commits
    nothing. A doc_id the store already holds takes its new text, as an
    upsert (the MERGE INTO semantics of an I row)."""
    bdf = batch_docs.select(F.lit("I").alias("Op"), "doc_id", "text")
    return _cluster_cdc(spark, bdf, sig_store, label_store, append)[1]


def retract_batch_clusters(spark, ids: DataFrame, sig_store, label_store) -> int:
    """Remove the docs in `ids` (a doc_id column) from the cluster tier — a
    D-only batch through `_cluster_cdc`: the signatures are deleted and
    the components they belonged to are re-labeled from their survivors'
    signature edges, splits included. Replay is idempotent, including
    from the state a crash between the signature and the label commit
    leaves (pytest). Returns the label-store MERGE snapshot id, the commit
    that completes the retraction (None for an empty `ids`)."""
    bdf = ids.selectExpr("'D' AS Op", "doc_id", "CAST(NULL AS STRING) AS text")
    return _cluster_cdc(spark, bdf, sig_store, label_store)[0]


def apply_cdc_batch_clusters(spark, bdf, sig_store, label_store) -> None:
    """Apply one micro-batch of (Op, doc_id, text) rows, Op ∈ I/U/D, to a
    signature + label store pair (`_cluster_cdc`): the drains'
    foreachBatch body and `CALL system.apply_cdc_clusters`."""
    _cluster_cdc(spark, bdf.select("Op", "doc_id", "text"), sig_store, label_store)


def _band_edges(left: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct (u < v) band collisions between two signature frames."""
    return (
        _bands_long(left, "u")
        .join(_bands_long(right, "v"), ["band_idx", "band_key"])
        .filter(F.col("u") != F.col("v"))
        .selectExpr("least(u, v) AS u", "greatest(u, v) AS v")
        .distinct()
    )


def _null_cols(df: DataFrame) -> list:
    """A typed null for every column of `df` but doc_id."""
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in df.schema.fields
        if f.name != "doc_id"
    ]


def _with_deletes(upserts: DataFrame, d_only: DataFrame) -> DataFrame:
    """An op-column MERGE source: `upserts` as U rows, the `d_only`
    doc_ids as D rows."""
    return upserts.withColumn("Op", F.lit("U")).unionByName(
        d_only.select("doc_id", *_null_cols(upserts), F.lit("D").alias("Op"))
    )


def _cluster_cdc(spark, bdf, sig_store, label_store, append=True):
    """The cluster tier's CDC kernel: one batch of (Op, doc_id, text) rows
    applied to the signature + label store pair.

    The batch's keys are "stored" when the label store holds them (it
    holds every stored doc_id). An I on a stored key replaces it like a
    U, and a key carrying both D and U (or I) resolves upsert-wins. The
    post-batch store drops every batch key and gains the batch's
    signatures. The components of the stored keys are re-derived from
    their survivors' edges; every other component a batch edge reaches
    joins the union-find through its member→label star edges.

    Bounded driver fast path, four probes (`limit(cap+1)`: ≤ cap rows
    back proves the set complete):
      1. the op rows and the I ∪ U signatures, one union at 2×cap with a
         cap check per leg (an overflowing union overflows a leg); the
         signatures become an Arrow local relation;
      2. the batch's band collisions with the post-batch store (skipped
         for a D-only batch);
      3. the members of the components of the batch keys and of those
         edges' endpoints, at 2×cap (the ids filter the label scan as
         literals, `_in_ids`): this gives the stored keys, the survivors
         and the reached components' stars;
      4. the survivors' band collisions with each other (skipped when
         there are none; components are closed under collisions, so a
         survivor collides only with survivors and batch docs);
    then ONE driver union-find. Any overflow runs
    `_cluster_cdc_distributed` instead, the same plan kept distributed.

    Commits, only when `append`, signatures FIRST, in the cheapest form
    that is exact (a copy-on-write store is rewritten only by the MERGE):
    an I-only batch that replaces no stored key takes the keyed append
    (`_append_new_ids`), a D-only batch one O(|keys|) equality-delete
    file (`retract_batch`), any other batch an op-column MERGE (D-only
    keys as D rows); then ONE op-column MOR MERGE of the labels. Every
    probe reads the pre-batch snapshots, so a crash between the commits
    leaves stale labels that a replay of the batch recomputes
    identically. Job budget under the micro-batch confs, with a
    copy-on-write signature store and an MOR label store
    (tests/test_cluster_apply_jobs.py): probe 1: 1 job; probes 2 and 4:
    2 each; probe 3: 2, 4 once the label store carries delete files; the
    keyed append 2, the equality delete 1, the signature MERGE 1; the
    label MERGE 2.

    Returns (label MERGE snapshot id or None, post-batch label frame)."""
    from ..operators.graph import labels_df, local_frame, union_find_labels

    cap = _CLUSTER_LOCAL_MAX
    labels, sigs = label_store.scan(), sig_store.scan()  # pre-batch snapshots
    sig = minhash_signature_df(
        bdf.filter(F.col("Op").isin("I", "U")).select("doc_id", "text")
    )
    op_leg = bdf.select("Op", "doc_id", *_null_cols(sig), F.lit(False).alias("__sig"))
    rows = _probe_collect(
        op_leg.unionByName(
            sig.select(
                F.lit(None).cast("string").alias("Op"), "*", F.lit(True).alias("__sig")
            )
        ),
        2 * cap,
    )
    op_rows = [r for r in rows if not r["__sig"]]
    sig_rows = [r for r in rows if r["__sig"]]
    fast = len(op_rows) <= cap and len(sig_rows) <= cap
    if fast:
        if not op_rows:
            return None, labels
        keys = {r["doc_id"] for r in op_rows}
        ups = {r["doc_id"] for r in sig_rows}
        batch_sig = local_frame(
            spark, {c: [r[c] for r in sig_rows] for c in sig.columns}, sig.schema
        )
        post = sigs.filter(~_in_ids(keys)).unionByName(batch_sig)
        edges = _probe_collect(_band_edges(batch_sig, post), cap) if ups else []
        fast = len(edges) <= cap
    if fast:
        ids = keys | ({r[c] for r in edges for c in ("u", "v")} - ups)
        alb = labels.filter(_in_ids(ids)).select("label").distinct()
        members = _probe_collect(
            labels.join(F.broadcast(alb), "label", "left_semi"), 2 * cap
        )
        fast = len(members) <= 2 * cap
    if fast:
        label_of = {r["doc_id"]: r["label"] for r in members}
        affected = {label_of[k] for k in keys if k in label_of}
        survivors = {i for i, lb in label_of.items() if lb in affected} - keys
        surv_sig = sigs.filter(_in_ids(survivors))
        surv_edges = (
            _probe_collect(_band_edges(surv_sig, surv_sig), cap) if survivors else []
        )
        fast = len(surv_edges) <= cap
    if fast:
        local = union_find_labels(
            [(r["u"], r["v"]) for r in edges + surv_edges]
            + [(i, lb) for i, lb in label_of.items() if lb not in affected]
        )
        # batch docs and survivors without an edge label themselves
        relabel = {i: local.get(i, i) for i in ups | survivors}
        relabel.update(local)
        changed = labels_df(spark, relabel)
        d_only = labels_df(spark, {i: i for i in keys - ups}).select("doc_id")
        carried = labels.filter(~_in_ids(keys | set(relabel)))
        if not ups:
            commit = "delete"
        elif keys == ups and not affected:
            commit = "append"
        else:
            commit = "merge"
    else:
        batch_sig, d_only, changed, carried, commit = _cluster_cdc_distributed(
            bdf, sig, labels, sigs
        )
    sid = None
    if append:
        if commit == "append":
            _append_new_ids(sig_store, batch_sig)
        elif commit == "delete":
            retract_batch(sig_store, d_only)
        else:
            sig_store.merge(_with_deletes(batch_sig, d_only), keys=["doc_id"], op_col="Op")
        sid = label_store.merge(
            _with_deletes(changed, d_only), keys=["doc_id"], op_col="Op"
        )
    return sid, carried.unionByName(changed)


def _cluster_cdc_distributed(bdf, sig, labels, sigs):
    """`_cluster_cdc`'s plan with every set kept distributed, for a batch
    or a touched subgraph over _CLUSTER_LOCAL_MAX. Returns the kernel's
    (batch signatures, D-only keys, changed labels, carried labels,
    signature commit) with the frames pinned by checkpoints: the commits
    run after, and must not re-read the stores they change."""
    from ..operators.graph import connected_components_adaptive

    def pin(df):
        return _fresh_ids(df.localCheckpoint(eager=True))

    keys = pin(bdf.select("doc_id").distinct())
    batch_sig = pin(sig)
    ups = batch_sig.select("doc_id")
    affected = pin(labels.join(keys, "doc_id", "left_semi").select("label").distinct())
    members = labels.join(F.broadcast(affected), "label", "left_semi").select("doc_id")
    nodes = members.join(keys, "doc_id", "left_anti").unionByName(ups)
    post = sigs.join(keys, "doc_id", "left_anti").unionByName(batch_sig)
    edges = pin(_band_edges(post.join(nodes, "doc_id", "left_semi"), post))
    reached = (
        edges.selectExpr("u AS doc_id")
        .union(edges.selectExpr("v AS doc_id"))
        .join(nodes, "doc_id", "left_anti")
    )
    touched = labels.join(reached, "doc_id", "left_semi").select("label").distinct()
    star = labels.join(F.broadcast(touched), "label", "left_semi").selectExpr(
        "doc_id AS u", "label AS v"
    )
    comp, _rounds = connected_components_adaptive(edges.unionByName(star))
    changed = pin(
        comp.unionByName(
            nodes.join(comp, "doc_id", "left_anti").selectExpr("doc_id", "doc_id AS label")
        )
    )
    d_only = keys.join(ups, "doc_id", "left_anti")
    carried = labels.join(
        changed.select("doc_id").union(keys), "doc_id", "left_anti"
    )
    if ups.isEmpty():
        commit = "delete"
    elif d_only.isEmpty() and affected.isEmpty():
        commit = "append"
    else:
        commit = "merge"
    return batch_sig, d_only, changed, carried, commit


_incr_labels_cache: dict[str, str] = {}


def _incremental_labels_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted label store over the day-1 corpus signatures
    (doc_id % 5 != 0) — the state `d_incremental_clusters` folds into."""
    from ..catalog import persisted_store_for
    from ..tables import SnapshotTable

    def build(root):
        sig_store = SnapshotTable(spark, _incremental_store_for(spark, sf_dir))
        build_label_store(spark, sig_store, root)

    return persisted_store_for(
        spark, sf_dir, _incr_labels_cache, "eiws_incrlabels_", "labels", build
    )


_incr_cluster_retract_cache: dict[str, str] = {}


def _cluster_retract_stores_for(spark, sf_dir: str) -> str:
    """Per-sf_dir BASE dir holding a (sigs, labels) store pair that has
    ALREADY taken a retraction: day-1 builds both over the corpus slice
    (doc_id % 5 != 0), day-1.5 retracts the takedown slice (doc_id % 7
    = 1) through `retract_batch_clusters` — affected components
    re-labeled from re-derived edges, signatures deleted."""
    from ..catalog import persisted_store_for
    from ..tables import SnapshotTable

    def build(sig_root):
        # labels live NEXT TO the sigs table (persisted_store_for's
        # existence re-check validates the sigs root; both are built in
        # the same pass, so sigs-present implies labels-present)
        label_root = os.path.join(os.path.dirname(sig_root), "labels")
        corpus = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 5 != 0"
        ).select("doc_id", "text")
        build_signature_store(spark, corpus, sig_root)
        sig_store = SnapshotTable(spark, sig_root)
        build_label_store(spark, sig_store, label_root)
        retract_batch_clusters(
            spark,
            corpus.filter("doc_id % 7 = 1").select("doc_id"),
            sig_store,
            SnapshotTable(spark, label_root),
        )

    sig_root = persisted_store_for(
        spark, sf_dir, _incr_cluster_retract_cache,
        "eiws_clusterretract_", "sigs", build,
    )
    return os.path.dirname(sig_root)


@query(
    "d_incremental_cluster_retract",
    # Ground truth: from-scratch components over (corpus MINUS the
    # retracted slice) ∪ batch — if the retraction left a stale label, a
    # ghost signature, or failed to SPLIT a component the removed doc
    # was bridging, a row's label differs and the hash comparison fails
    oracle=f"""
    WITH RECURSIVE
         u AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 5 = 0 OR doc_id % 7 <> 1),
         s AS (SELECT doc_id, {SHINGLES_D} AS __sh FROM u),
         hs AS (SELECT doc_id, {HASHED_SHINGLES_D} AS __hs FROM s),
         m AS (SELECT doc_id, {', '.join(_minhash_exprs('duck'))} FROM hs),
         b AS (SELECT *, {', '.join(_band_exprs())} FROM m),
         long AS (
           SELECT doc_id, band_idx, band_key FROM (
             SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM b
             UNION ALL SELECT doc_id, 1, band1 FROM b
             UNION ALL SELECT doc_id, 2, band2 FROM b
             UNION ALL SELECT doc_id, 3, band3 FROM b)
         ),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM long x JOIN long y
                  ON x.band_key = y.band_key AND x.band_idx = y.band_idx
                     AND x.doc_id < y.doc_id),
         edges AS (SELECT a, b FROM cand UNION SELECT b, a FROM cand),
         reach(s2, t) AS (
             SELECT doc_id, doc_id FROM u
             UNION
             SELECT r.s2, e.b FROM reach r JOIN edges e ON r.t = e.a
         )
    SELECT s2 AS doc_id, MIN(t) AS label FROM reach GROUP BY s2
    """,
    tags=("dedup:incremental-cluster-retract", "graph", "snapshot-table"),
)
def d_incremental_cluster_retract(spark, sf_dir) -> DataFrame:
    """Fold the day-2 batch into a label store that RETRACTED the
    takedown slice (doc_id % 7 = 1 of the day-1 corpus) via
    `retract_batch_clusters` — proves the cluster tier's deletion path
    end-to-end: affected components were re-labeled from re-derived
    survivor edges (splits included), retracted signatures are masked,
    and the post-fold labels match the full recompute on
    corpus-minus-retracted ∪ batch."""
    from ..tables import SnapshotTable

    base = _cluster_retract_stores_for(spark, sf_dir)
    sig_store = SnapshotTable(spark, os.path.join(base, "sigs"))
    label_store = SnapshotTable(spark, os.path.join(base, "labels"))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    return fold_batch_clusters(spark, batch, sig_store, label_store, append=False)


# Ground truth for the cluster tier: from-scratch connected components
# over the FULL universe's banded candidate graph (the same minhash/
# band arithmetic, recursive-CTE transitive closure), one label per
# document — if a fold carried a stale label, missed a merge, or
# mis-rooted a merged component, a row's label differs and the hash
# comparison fails. Shared by d_incremental_clusters (one-shot batch),
# q_stream_cluster_maintain (the same fold split across micro-batches —
# folds compose, so ONE contract covers both), and — with a post-CDC
# universe — q_stream_cluster_cdc (one CDC batch per micro-batch).
def clusters_oracle(
    universe_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    return f"""
    WITH RECURSIVE
         u AS ({universe_sql}),
         s AS (SELECT doc_id, {SHINGLES_D} AS __sh FROM u),
         hs AS (SELECT doc_id, {HASHED_SHINGLES_D} AS __hs FROM s),
         m AS (SELECT doc_id, {', '.join(_minhash_exprs('duck'))} FROM hs),
         b AS (SELECT *, {', '.join(_band_exprs())} FROM m),
         long AS (
           SELECT doc_id, band_idx, band_key FROM (
             SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM b
             UNION ALL SELECT doc_id, 1, band1 FROM b
             UNION ALL SELECT doc_id, 2, band2 FROM b
             UNION ALL SELECT doc_id, 3, band3 FROM b)
         ),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM long x JOIN long y
                  ON x.band_key = y.band_key AND x.band_idx = y.band_idx
                     AND x.doc_id < y.doc_id),
         edges AS (SELECT a, b FROM cand UNION SELECT b, a FROM cand),
         reach(s2, t) AS (
             SELECT doc_id, doc_id FROM u
             UNION
             SELECT r.s2, e.b FROM reach r JOIN edges e ON r.t = e.a
         )
    SELECT s2 AS doc_id, MIN(t) AS label FROM reach GROUP BY s2
    """


INCR_CLUSTERS_ORACLE = clusters_oracle()


@query(
    "d_incremental_clusters",
    oracle=INCR_CLUSTERS_ORACLE,
    tags=("dedup:incremental-clusters", "graph", "snapshot-table"),
)
def d_incremental_clusters(spark, sf_dir) -> DataFrame:
    """Incremental dup-cluster maintenance: fold the day-2 batch
    (doc_id % 5 = 0) into the persisted component labels of the day-1
    corpus (doc_id % 5 != 0) and return the full post-fold label table —
    batch text is signatured once, only edge-touched components are
    re-contracted, untouched labels are carried."""
    from ..tables import SnapshotTable

    sig_store = SnapshotTable(spark, _incremental_store_for(spark, sf_dir))
    label_store = SnapshotTable(spark, _incremental_labels_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    # append=False: graded query stays idempotent across in-process runs;
    # the commit path (signature append + label MERGE) is pytest-covered
    return fold_batch_clusters(spark, batch, sig_store, label_store, append=False)


# --------------------------------------------------------------------------
# Incremental SimHash twin: same day-2 shape as `dedup_batch_incremental`
# but over the 32-bit simhash fingerprint store — fingerprints are 8 bytes
# per doc (vs 12 minhashes + 4 band strings), so the persisted table is
# even cheaper to stream, and the hamming verify needs no second column.

_SH_DDL = "doc_id bigint, simhash bigint"


def simhash_signature_df(docs: DataFrame) -> DataFrame:
    """doc_id, simhash — the codegen'd explode→md5→bit-majority aggregate
    from `_simhash_table`, over an arbitrary documents DataFrame."""
    high = "'8','9','a','b','c','d','e','f'"
    e = docs.selectExpr(
        "doc_id", f"explode_outer(array_distinct({TOKS_S})) AS x"
    ).selectExpr("doc_id", "md5(x) AS hh")
    bit_counts = [
        F.expr(
            f"count(CASE WHEN substr(hh, {b + 1}, 1) IN ({high}) THEN 1 END)"
        ).alias(f"c{b}")
        for b in range(32)
    ]
    g = e.groupBy("doc_id").agg(F.count("hh").alias("n"), *bit_counts)
    vote = " + ".join(
        f"(CASE WHEN 2 * c{b} > n THEN {1 << b} ELSE 0 END)" for b in range(32)
    )
    return g.selectExpr("doc_id", f"CAST({vote} AS BIGINT) AS simhash")


def build_simhash_store(spark, docs: DataFrame, root: str):
    """Day-1 build: fingerprint the corpus once, persist as a SnapshotTable."""
    from ..tables import SnapshotTable

    t = SnapshotTable.create(spark, root, _SH_DDL)
    t.write(simhash_signature_df(docs))
    return t


def _sh_bands(df: DataFrame, fp_alias: str) -> DataFrame:
    band_pairs = ", ".join(
        f"{b}, CAST(shiftright(simhash, {8 * b}) & 255 AS INT)" for b in range(4)
    )
    return df.select("simhash").distinct().selectExpr(
        f"simhash AS {fp_alias}", f"stack(4, {band_pairs}) AS (band_idx, band_val)"
    )


def dedup_batch_incremental_simhash(
    spark, batch_docs: DataFrame, store, append: bool = True, max_hamming: int = 3
) -> DataFrame:
    """SimHash batch dedup against the persisted fingerprint store:
    fingerprint the batch (the only text pass), byte-band the batch's
    DISTINCT fingerprints against the store's ∪ its own (pigeonhole:
    hamming ≤ 3 over 4 bytes ⇒ some byte equal, and equal fingerprints
    share every band), verify exact hamming on the fingerprint pairs,
    then expand to doc pairs touching the batch. Returns
    (doc_a, doc_b, simhash_a, simhash_b, hamming), doc_a < doc_b."""
    batch_sig = simhash_signature_df(batch_docs).localCheckpoint(eager=True)
    if append:
        _append_new_ids(store, batch_sig)
    # replay-proof universe: (store minus batch ids) ∪ batch — exactly one
    # row per doc whether or not the store already holds this batch
    other_sig = (
        store.scan()
        .select("doc_id", "simhash")
        .join(batch_sig.select("doc_id"), "doc_id", "left_anti")
        .unionByName(batch_sig.select("doc_id", "simhash"))
    )

    bfp = _sh_bands(batch_sig, "fa")
    ofp = _sh_bands(other_sig, "fb")
    fpp = (
        bfp.join(ofp, ["band_idx", "band_val"])
        .select("fa", "fb")
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
    )
    a = batch_sig.selectExpr("doc_id AS ida", "simhash AS fa")
    b = other_sig.selectExpr("doc_id AS idb", "simhash AS fb")
    return (
        fpp.join(a, "fa")
        .join(b, "fb")
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            F.when(F.col("ida") < F.col("idb"), F.col("fa")).otherwise(F.col("fb")).alias("simhash_a"),
            F.when(F.col("ida") < F.col("idb"), F.col("fb")).otherwise(F.col("fa")).alias("simhash_b"),
            "hamming",
        )
        .distinct()  # batch-batch pairs arrive in both orientations
    )


_incr_sh_store_cache: dict[str, str] = {}


def _incremental_sh_store_for(spark, sf_dir: str) -> str:
    from ..catalog import persisted_store_for

    def build(root):
        corpus = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 5 != 0"
        ).select("doc_id", "text")
        build_simhash_store(spark, corpus, root)

    return persisted_store_for(
        spark, sf_dir, _incr_sh_store_cache, "eiws_incrsh_", "sigs", build
    )


def simhash_batch_verdicts(
    spark, batch_docs: DataFrame, store, append: bool = True, max_hamming: int = 3
) -> DataFrame:
    """BOUNDED-output incremental SimHash dedup: one row per batch doc
    that has >= 1 near-dup partner (hamming <= max_hamming) in the store
    or the batch — (doc_id, simhash, n_partners, best_hamming,
    best_partner). Computed ENTIRELY at the fingerprint level: per-
    fingerprint doc stats (count, two smallest ids) + the banded
    fingerprint-pair stream, then a per-fingerprint aggregate joined back
    to the batch. No doc-pair enumeration anywhere — the pair form
    (`dedup_batch_incremental_simhash`) is output-bound on dup-dense
    corpora (measured 11x/row across the sf0.1->sf1 decade, SCALE.md),
    while this verdict form's intermediates are O(distinct fingerprints
    + fingerprint pairs) and its output O(batch): the shape a 100 TB
    ingest gate actually ships."""
    batch_sig = simhash_signature_df(batch_docs).localCheckpoint(eager=True)
    if append:
        _append_new_ids(store, batch_sig)
    # replay-proof universe: (store minus batch ids) ∪ batch — exactly one
    # row per doc whether or not the store already holds this batch
    # (append=True just wrote it; append=False may be a replay against a
    # store that saw it earlier). Same shape as the exact/pair tiers.
    other = (
        store.scan()
        .select("doc_id", "simhash")
        .join(batch_sig.select("doc_id"), "doc_id", "left_anti")
        .unionByName(batch_sig.select("doc_id", "simhash"))
    )

    bfp = _sh_bands(batch_sig, "fa")
    ofp = _sh_bands(other, "fb")
    # fingerprint-pair candidates are O(distinct batch fps × band
    # collisions) — tiny. Materialize them eagerly so (a) the band join
    # runs ONCE (fpp feeds both the touched-fingerprint prune and the
    # cross aggregate) and (b) every downstream join sees exact small-side
    # stats and plans as a broadcast, not a SortMergeJoin.
    fpp = (
        bfp.join(ofp, ["band_idx", "band_val"])
        .select("fa", "fb")
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=True)
    )
    # per-fingerprint stats (count + two smallest doc ids; min2 lets the
    # same-fingerprint bucket exclude the batch doc itself when IT is the
    # minimum) — computed over the TOUCHED slice only: fingerprints the
    # batch carries (the `same` join) or bands into (`cross`'s fb side).
    # The semi-join streams the 16 B/doc store scan against the small
    # candidate set, so untouched corpus fingerprints never reach the
    # stats shuffle or the min2 join — the same prune the exact tier
    # applies to its hash groups.
    # touched_fp is PROVABLY corpus-size-free: each batch fingerprint's
    # hamming<=3 ball in 32-bit space holds at most C(32,0)+C(32,1)+
    # C(32,2)+C(32,3) = 5489 fingerprints, so |fpp| <= |batch fps| x 5489
    # no matter how large the store grows — hence the explicit broadcast
    # hint (the localCheckpoint above preserves the band-join's inflated
    # origin estimate, which would otherwise force a full-store
    # SortMergeJoin in the static plan).
    tfp = (
        batch_sig.select("simhash")
        .unionByName(fpp.select(F.col("fb").alias("simhash")))
        .distinct()
    )
    touched_fp = F.broadcast(tfp)
    other_t = other.join(touched_fp, "simhash", "left_semi")
    s1 = other_t.groupBy("simhash").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("doc_id").alias("min1"),
    )
    m2 = (
        other_t.join(s1, "simhash")
        .filter(F.col("doc_id") > F.col("min1"))
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("min2"))
    )
    stats = s1.join(m2, "simhash", "left")
    # cross-bucket aggregate per batch fingerprint: total partner count
    # and the lexicographic-min (hamming, partner) pair — doc-independent
    cross = fpp.filter(F.col("fa") != F.col("fb")).join(
        stats.selectExpr("simhash AS fb", "cnt AS cntb", "min1 AS minb"), "fb"
    )
    cross_agg = cross.groupBy("fa").agg(
        F.sum("cntb").cast("long").alias("cnt1"),
        F.min(F.struct("hamming", "minb")).alias("best1"),
    )
    same = stats.selectExpr(
        "simhash AS fa", "cnt AS cnt0", "min1 AS s_min1", "min2 AS s_min2"
    )
    b = batch_sig.selectExpr("doc_id", "simhash", "simhash AS fa")
    out = (
        b.join(same, "fa")  # every batch doc's fingerprint is in `other`
        # cross_agg is one row per batch fingerprint (groupBy fa over the
        # hamming-bounded pair set) — corpus-size-free, safe to hint
        .join(F.broadcast(cross_agg), "fa", "left")
        .selectExpr(
            "doc_id",
            "simhash",
            "CAST((cnt0 - 1) + coalesce(cnt1, 0) AS BIGINT) AS n_partners",
            "CAST(CASE WHEN cnt0 >= 2 THEN 0 ELSE best1.hamming END AS BIGINT)"
            " AS best_hamming",
            "CAST(CASE WHEN cnt0 >= 2 THEN"
            " (CASE WHEN s_min1 <> doc_id THEN s_min1 ELSE s_min2 END)"
            " ELSE best1.minb END AS BIGINT) AS best_partner",
        )
        .filter("n_partners > 0")
    )
    return out


@query(
    "d_incremental_simhash",
    # full-corpus simhash recompute on the union, aggregated to the SAME
    # bounded per-batch-doc verdict: partner count, best hamming, and the
    # smallest partner id at the best hamming (composite-key MIN makes
    # the tie-break identical in both engines)
    oracle=f"""
    WITH md AS (SELECT doc_id, {_simhash_md5s('duck')} AS __md FROM documents),
         h AS (SELECT doc_id, {_simhash_expr('duck')} AS simhash FROM md),
         p AS (SELECT a.doc_id AS doc_id, a.simhash AS simhash,
                      b.doc_id AS partner,
                      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
               FROM h a JOIN h b ON b.doc_id <> a.doc_id
               WHERE a.doc_id % 5 = 0
                 AND bit_count(xor(a.simhash, b.simhash)) <= 3)
    SELECT doc_id, simhash,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           CAST(MIN(hamming * 10000000000 + partner) // 10000000000 AS BIGINT)
             AS best_hamming,
           CAST(MIN(hamming * 10000000000 + partner) % 10000000000 AS BIGINT)
             AS best_partner
    FROM p GROUP BY doc_id, simhash
    """,
    tags=("dedup:incremental-simhash", "join", "snapshot-table"),
)
def d_incremental_simhash(spark, sf_dir) -> DataFrame:
    """Incremental SimHash dedup of the batch slice (doc_id % 5 = 0)
    against the persisted fingerprint store, BOUNDED-OUTPUT verdict form
    (one row per batch doc with a partner) — corpus text never rescanned,
    no doc-pair enumeration (the pair form is enumeration-bound on
    dup-dense corpora; see SCALE.md r11)."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_sh_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    return simhash_batch_verdicts(spark, batch, store, append=False)


_incr_sh_retract_cache: dict[str, str] = {}


def _incremental_sh_retract_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir SimHash fingerprint store that has ALREADY taken a
    retraction: day-1 writes the corpus slice (doc_id % 5 != 0), day-1.5
    equality-deletes the takedown slice (doc_id % 7 = 1). Unlike the
    CLUSTER tier — whose persisted labels are DERIVED state that a
    removal can split (`retract_batch_clusters` re-derives edges) — the
    fingerprint store holds only per-doc signatures, so `retract_batch`
    (one O(|ids|) equality-delete commit) is the complete retraction:
    every later verdict recomputes partners from the masked scan."""
    from ..catalog import persisted_store_for
    from ..tables import SnapshotTable

    def build(root):
        # hardlink-clone the cached day-1 fingerprint fixture instead of
        # re-fingerprinting the corpus (review r14) — the retract store
        # differs from it by exactly one equality-delete commit, and the
        # retracted ids come from the store scan itself (no corpus read)
        from ..catalog import clone_store

        clone_store(_incremental_sh_store_for(spark, sf_dir), root)
        t = SnapshotTable(spark, root)
        retract_batch(t, t.scan().filter("doc_id % 7 = 1").select("doc_id"))

    return persisted_store_for(
        spark, sf_dir, _incr_sh_retract_cache, "eiws_incrshret_", "sigs", build
    )


@query(
    "d_incremental_simhash_retract",
    # Ground truth: the d_incremental_simhash recompute with the retracted
    # slice (doc_id % 7 = 1 of the day-1 corpus doc_id % 5 != 0) removed
    # from the partner universe — batch docs (doc_id % 5 = 0) are never
    # retracted, so the universe is `% 5 = 0 OR % 7 <> 1`
    oracle=f"""
    WITH u AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 5 = 0 OR doc_id % 7 <> 1),
         md AS (SELECT doc_id, {_simhash_md5s('duck')} AS __md FROM u),
         h AS (SELECT doc_id, {_simhash_expr('duck')} AS simhash FROM md),
         p AS (SELECT a.doc_id AS doc_id, a.simhash AS simhash,
                      b.doc_id AS partner,
                      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
               FROM h a JOIN h b ON b.doc_id <> a.doc_id
               WHERE a.doc_id % 5 = 0
                 AND bit_count(xor(a.simhash, b.simhash)) <= 3)
    SELECT doc_id, simhash,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           CAST(MIN(hamming * 10000000000 + partner) // 10000000000 AS BIGINT)
             AS best_hamming,
           CAST(MIN(hamming * 10000000000 + partner) % 10000000000 AS BIGINT)
             AS best_partner
    FROM p GROUP BY doc_id, simhash
    """,
    tags=("dedup:incremental-simhash-retract", "join", "snapshot-table"),
)
def d_incremental_simhash_retract(spark, sf_dir) -> DataFrame:
    """Incremental SimHash dedup of the batch slice (doc_id % 5 = 0)
    against a fingerprint store that RETRACTED the takedown slice
    (doc_id % 7 = 1 of the day-1 corpus) — proves the simhash tier's
    deletion path: the equality-delete commit masks retracted
    fingerprints at scan, so verdicts match the full recompute on
    corpus-minus-retracted (VERDICT r13 task 5; the tier needs no
    cluster-style label repair because the store holds no derived
    state)."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _incremental_sh_retract_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0"
    ).select("doc_id", "text")
    return simhash_batch_verdicts(spark, batch, store, append=False)
