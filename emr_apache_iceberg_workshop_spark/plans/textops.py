"""Text-analysis operators over `documents` (north-star extension;
BASELINE.json: "text analysis" as a first-class component).

All tokenization is `regexp_extract_all(text, '[a-z0-9]+')` — the same
function name and regex semantics in Spark (Java regex) and DuckDB (RE2)
for this simple character-class pattern, so both engines see identical
token lists. Everything else composes array lambdas (`transform`/`filter`
in Spark SQL, `list_transform`/`list_filter` in DuckDB) — JVM-side,
whole-stage-codegen'd, no Python UDFs in the hot path.

Scale: per-row array ops are embarrassingly parallel (no shuffle); the
only shuffles are the final aggregations. At 100 TB, token frequency uses
partial (map-side) aggregation automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..catalog import load_table, fan_out
from ..operators import top_k
from .registry import query

# Token expressions — Spark SQL and DuckDB dialect twins.
TOKS_S = "regexp_extract_all(text, '[a-z0-9]+', 0)"
TOKS_D = "regexp_extract_all(text, '[a-z0-9]+')"

# Language-marker stopword sets for the n-gram-free language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "et", "un", "une"),
    "zh": ("shi", "bu", "wo", "ni", "ta"),
}
_LANG_ORDER = ("en", "es", "de", "fr", "zh")


def _score(dialect: str, lang: str) -> str:
    """Count of language-marker tokens (size/len + filter/list_filter)."""
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    if dialect == "spark":
        return f"size(filter({TOKS_S}, x -> x IN ({words})))"
    return f"len(list_filter({TOKS_D}, x -> x IN ({words})))"


def _predicted(dialect: str) -> str:
    """argmax over language scores, ties broken by _LANG_ORDER."""
    scores = {lg: _score(dialect, lg) for lg in _LANG_ORDER}
    branches = []
    for lg in _LANG_ORDER:
        others = [scores[o] for o in _LANG_ORDER if o != lg]
        geq = " AND ".join(f"{scores[lg]} >= {o}" for o in others)
        branches.append(f"WHEN {geq} THEN '{lg}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


# --------------------------------------------------------------------------
@query(
    "t_token_stats",
    oracle=f"""
    SELECT doc_id, source, length(text) AS n_chars_calc,
           len({TOKS_D}) AS n_tokens,
           len(list_distinct({TOKS_D})) AS n_distinct_tokens,
           CASE WHEN len({TOKS_D}) > 0
                THEN CAST(list_sum(list_transform({TOKS_D}, x -> length(x))) AS DOUBLE)
                     / len({TOKS_D})
                ELSE 0.0 END AS avg_token_len
    FROM documents
    """,
    tags=("text", "tokens"),
)
def t_token_stats(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.selectExpr(
        "doc_id",
        "source",
        "CAST(length(text) AS BIGINT) AS n_chars_calc",
        f"CAST(size({TOKS_S}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({TOKS_S})) AS BIGINT) AS n_distinct_tokens",
        f"""CASE WHEN size({TOKS_S}) > 0
             THEN CAST(aggregate({TOKS_S}, 0L, (acc, x) -> acc + length(x)) AS DOUBLE)
                  / size({TOKS_S})
             ELSE 0.0D END AS avg_token_len""",
    )


# --------------------------------------------------------------------------
@query(
    "t_quality_score",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len({TOKS_D}) AS n_tokens,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                     / length(text) ELSE 0.0 END AS punct_ratio,
           CASE WHEN len({TOKS_D}) > 0
                THEN CAST({_score('duck', 'en')} AS DOUBLE) / len({TOKS_D})
                ELSE 0.0 END AS stopword_ratio,
           len(list_distinct({TOKS_D})) AS vocab,
           CASE WHEN len({TOKS_D}) > 0
                THEN CAST(len(list_distinct({TOKS_D})) AS DOUBLE) / len({TOKS_D})
                ELSE 0.0 END AS ttr
    FROM documents
    """,
    tags=("text", "quality"),
)
def t_quality_score(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_calc",
        f"CAST(size({TOKS_S}) AS BIGINT) AS n_tokens",
        """CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '')) AS DOUBLE) / length(text)
             ELSE 0.0D END AS punct_ratio""",
        f"""CASE WHEN size({TOKS_S}) > 0
             THEN CAST({_score('spark', 'en')} AS DOUBLE) / size({TOKS_S})
             ELSE 0.0D END AS stopword_ratio""",
        f"CAST(size(array_distinct({TOKS_S})) AS BIGINT) AS vocab",
        f"""CASE WHEN size({TOKS_S}) > 0
             THEN CAST(size(array_distinct({TOKS_S})) AS DOUBLE) / size({TOKS_S})
             ELSE 0.0D END AS ttr""",
    )


# --------------------------------------------------------------------------
@query(
    "t_langid_confusion",
    oracle=f"""
    SELECT {_predicted('duck')} AS predicted_lang, lang AS actual_lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    tags=("text", "langid"),
)
def t_langid_confusion(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.selectExpr(f"{_predicted('spark')} AS predicted_lang", "lang AS actual_lang")
        .groupBy("predicted_lang", "actual_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
@query(
    "t_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({TOKS_D}, ' ')) AS fp_norm,
           md5(substr(array_to_string({TOKS_D}, ' '), 1, 64)) AS fp_prefix64,
           list_min(list_transform({TOKS_D}, x -> md5(x))) AS fp_min_token
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def t_fingerprint(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.selectExpr(
        "doc_id",
        f"md5(concat_ws(' ', {TOKS_S})) AS fp_norm",
        f"md5(substr(concat_ws(' ', {TOKS_S}), 1, 64)) AS fp_prefix64",
        f"array_min(transform({TOKS_S}, x -> md5(x))) AS fp_min_token",
    )


# --------------------------------------------------------------------------
@query(
    "t_token_freq",
    oracle=f"""
    SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest({TOKS_D}) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token LIMIT 50
    """,
    tags=("text", "tokens", "topk"),
)
def t_token_freq(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    agg = (
        docs.selectExpr("doc_id", f"explode({TOKS_S}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
    )
    return top_k(agg, [F.col("freq").desc(), F.col("token")], 50)


# --------------------------------------------------------------------------
@query(
    "t_lang_profile",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    tags=("text", "agg"),
)
def t_lang_profile(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# --------------------------------------------------------------------------
# BPE-style pre-tokenization: GPT-2-ish regex (leading-space word chunks,
# number chunks, punctuation runs) — the token-count estimator a training-
# data pipeline uses before the real BPE merge table. The alternation uses
# only literal classes so Java regex (Spark) and RE2 (DuckDB) agree.
_BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
_BPE_S = f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)"
_BPE_D = f"regexp_extract_all(lower(text), '{_BPE_RE}')"


@query(
    "t_bpe_tokens",
    oracle=f"""
    SELECT doc_id, source,
           len({_BPE_D}) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens,
           CAST(length(text) AS DOUBLE) / GREATEST(len({_BPE_D}), 1) AS chars_per_token
    FROM documents
    """,
    tags=("textops:bpe", "tokenize"),
)
def t_bpe_tokens(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "source",
        F.expr(f"size({_BPE_S})").cast("bigint").alias("n_bpe_tokens"),
        F.expr("size(split(text, ' ', -1))").cast("bigint").alias("n_ws_tokens"),
        (F.length("text").cast("double") / F.expr(f"greatest(size({_BPE_S}), 1)")).alias(
            "chars_per_token"
        ),
    )


# --------------------------------------------------------------------------
# PII scrubbing: mask emails / URLs / long digit runs (standard LLM
# training-data hygiene pass). Patterns use portable regex (no lookaround,
# no \d shorthand differences): Java and RE2 agree on these classes.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+"
_URL_RE = "https?://[^ ]+"
_DIGITS_RE = "[0-9][0-9][0-9][0-9][0-9]+"


@query(
    "t_scrub_pii",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_URL_RE}', '<URL>', 'g'),
               '{_DIGITS_RE}', '<NUM>', 'g') AS clean_text,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
           len(regexp_extract_all(text, '{_DIGITS_RE}')) AS n_long_nums
    FROM documents
    """,
    tags=("textops:pii", "scrub"),
)
def t_scrub_pii(spark, sf_dir) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _URL_RE, "<URL>"),
        _DIGITS_RE, "<NUM>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.expr(f"size(regexp_extract_all(text, '{_EMAIL_RE}', 0))").cast("bigint").alias("n_emails"),
        F.expr(f"size(regexp_extract_all(text, '{_URL_RE}', 0))").cast("bigint").alias("n_urls"),
        F.expr(f"size(regexp_extract_all(text, '{_DIGITS_RE}', 0))").cast("bigint").alias("n_long_nums"),
    )


# --------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules, token-level since the
# fixture corpus has no line structure): duplicate-token / duplicate-bigram
# fractions and the mass of the single most-frequent token / bigram.
#
# The duplicate-fractions are per-row linear (size - size(distinct),
# codegen'd, zero shuffle). The TOP-element counts were once per-row
# array lambdas — O(distinct * len) interpreted evals per document, a
# scale-killer on 100k-token docs. Rewritten (same pattern as d_simhash's
# explode→groupBy rewrite in plans/dedup.py) to the linear distributed
# form: explode the elements, count per (doc_id, kind, element) with
# map-side partial aggregation, take the max per doc — every step
# codegen'd and O(len) per document. Tokens and bigrams ride ONE shuffle
# via a union with a kind tag; docs with no tokens rejoin via left join +
# COALESCE(0). The DuckDB oracle is restructured identically (its lambda
# form measured 105s at sf0.01; this form is sub-second).
#
# Spark guard: sequence(1, n) with n <= 0 DESCENDS ([1, 0]) instead of
# returning empty like DuckDB's generate_series — hence the CASE guard.
# Bigrams derive from the checkpointed `toks` column (not re-tokenized).
_BIGS_FROM_TOKS_S = """
  CASE WHEN size(toks) >= 2 THEN
    transform(sequence(1, size(toks) - 1),
      i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
  ELSE array() END
""".strip()

_BIGS_FROM_TOKS_D = """
  list_transform(generate_series(1, len(toks) - 1),
    i -> toks[i] || ' ' || toks[i + 1])
""".strip()


def _ratio(num: str, den: str) -> str:
    return f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} ELSE 0.0 END"


@query(
    "t_repetition",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {TOKS_D} AS toks FROM documents
    ), base AS (
      SELECT doc_id, toks, {_BIGS_FROM_TOKS_D} AS bigs FROM tok
    ), per_doc AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_dist_tok,
             len(bigs) AS n_bigrams,
             len(list_distinct(bigs)) AS n_dist_big
      FROM base
    ), pairs AS (
      SELECT doc_id, 0 AS kind, unnest(toks) AS v FROM base
      UNION ALL
      SELECT doc_id, 1 AS kind, unnest(bigs) AS v FROM base
    ), counts AS (
      SELECT doc_id, kind, v, COUNT(*) AS c FROM pairs GROUP BY 1, 2, 3
    ), tops AS (
      SELECT doc_id,
             MAX(CASE WHEN kind = 0 THEN c END) AS top_tok,
             MAX(CASE WHEN kind = 1 THEN c END) AS top_big
      FROM counts GROUP BY 1
    )
    SELECT p.doc_id,
           p.n_tokens,
           {_ratio("p.n_tokens - p.n_dist_tok", "p.n_tokens")} AS dup_token_ratio,
           {_ratio("COALESCE(t.top_tok, 0)", "p.n_tokens")} AS top_token_ratio,
           {_ratio("p.n_bigrams - p.n_dist_big", "p.n_bigrams")} AS dup_bigram_ratio,
           {_ratio("COALESCE(t.top_big, 0)", "p.n_bigrams")} AS top_bigram_ratio
    FROM per_doc p LEFT JOIN tops t ON p.doc_id = t.doc_id
    """,
    tags=("textops:repetition", "quality"),
)
def t_repetition(spark, sf_dir) -> DataFrame:
    base = _toks_for(spark, sf_dir).selectExpr(
        "doc_id", "toks", f"{_BIGS_FROM_TOKS_S} AS bigs"
    )
    per_doc = base.selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_dist_tok",
        "CAST(size(bigs) AS BIGINT) AS n_bigrams",
        "CAST(size(array_distinct(bigs)) AS BIGINT) AS n_dist_big",
    )
    pairs = base.selectExpr("doc_id", "0 AS kind", "explode(toks) AS v").unionAll(
        base.selectExpr("doc_id", "1 AS kind", "explode(bigs) AS v")
    )
    tops = (
        pairs.groupBy("doc_id", "kind", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("kind") == 0, F.col("c"))).alias("top_tok"),
            F.max(F.when(F.col("kind") == 1, F.col("c"))).alias("top_big"),
        )
    )
    return per_doc.join(tops, "doc_id", "left").selectExpr(
        "doc_id",
        "n_tokens",
        f"{_ratio('n_tokens - n_dist_tok', 'n_tokens')} AS dup_token_ratio",
        f"{_ratio('COALESCE(top_tok, 0)', 'n_tokens')} AS top_token_ratio",
        f"{_ratio('n_bigrams - n_dist_big', 'n_bigrams')} AS dup_bigram_ratio",
        f"{_ratio('COALESCE(top_big, 0)', 'n_bigrams')} AS top_bigram_ratio",
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any 4-token
# n-gram with a held-out benchmark set (here the deterministic doc_id % 20
# slice stands in for an eval suite). The canonical pre-training hygiene
# pass (GPT-3 appendix C / PaLM-style n-gram overlap).
#
# Scale shape (100 TB corpus vs a few-MB benchmark): distinct benchmark
# n-grams are a SMALL table — the join against the exploded training index
# shuffles on the n-gram string and AQE broadcasts the benchmark side; the
# per-doc hit count comes from the same shuffle's groupBy. No O(n^2)
# pairs, no driver collect. The n-gram arrays are localCheckpoint'd before
# explode (same explode-of-expensive-expression pitfall as dedup.py —
# Catalyst would otherwise re-tokenize per OUTPUT row).
NGRAM4_S = f"""
  CASE WHEN size({TOKS_S}) >= 4 THEN
    array_distinct(transform(sequence(1, size({TOKS_S}) - 3),
      i -> concat_ws(' ', element_at({TOKS_S}, i), element_at({TOKS_S}, i + 1),
                     element_at({TOKS_S}, i + 2), element_at({TOKS_S}, i + 3))))
  ELSE array() END
""".strip()

NGRAM4_D = f"""
  list_distinct(list_transform(generate_series(1, len({TOKS_D}) - 3),
    i -> {TOKS_D}[i] || ' ' || {TOKS_D}[i + 1] || ' ' || {TOKS_D}[i + 2] || ' ' || {TOKS_D}[i + 3]))
""".strip()

# 4-gram arrays materialized once per (session, sf_dir) — same shared-
# signature-table pattern as dedup.shingle_arrays_for; tokenization is the
# dominant cost and every re-invocation (bench passes, repeated driver
# checks) reuses the checkpoint instead of re-tokenizing the corpus.
_ngram4_cache: dict[tuple[str, str], DataFrame] = {}

# Token ARRAYS materialized once per (session, sf_dir). Queries that consume
# the tokenized relation more than once (t_unigram_logprob: vocab agg +
# scoring join; t_tfidf_keywords: tf agg + df agg) would otherwise pay the
# regexp tokenization once PER consumption — Catalyst does not CSE across
# separate actions on the same subtree. Checkpointing the per-doc arrays
# (not the exploded tokens) keeps the materialized state at document grain
# (~1 row/doc); explode from the checkpoint is cheap. At 100 TB the same
# idea is "write the tokenized corpus once, read it N times" — a standard
# staging table, not driver state.
_toks_cache: dict[tuple[str, str], DataFrame] = {}


def _toks_for(spark, sf_dir) -> DataFrame:
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _toks_cache.get(key)
    if df is None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        df = docs.selectExpr("doc_id", f"{TOKS_S} AS toks").localCheckpoint(eager=True)
        _toks_cache[key] = df
    return df


def _ngram4_for(spark, sf_dir) -> DataFrame:
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _ngram4_cache.get(key)
    if df is None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        df = docs.selectExpr("doc_id", f"{NGRAM4_S} AS ng").localCheckpoint(eager=True)
        _ngram4_cache[key] = df
    return df


def _contamination_report(train: DataFrame, bench: DataFrame) -> DataFrame:
    """Shared report shape for the whole-corpus and incremental
    decontamination queries: per contaminated doc, benchmark-gram match
    count and ratio. `train` = (doc_id, n_ngrams, g) exploded rows;
    `bench` = distinct grams."""
    return (
        train.join(bench, "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .selectExpr(
            "doc_id", "n_ngrams", "n_contaminated",
            "CAST(n_contaminated AS DOUBLE) / n_ngrams AS contamination_ratio",
        )
    )


def _decontam_oracle(train_pred: str) -> str:
    """One oracle template for both decontamination queries — only the
    train-slice predicate differs."""
    return f"""
    WITH ng AS (
      SELECT doc_id, {NGRAM4_D} AS ng FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(ng) AS g FROM ng WHERE doc_id % 20 = 0
    ), train AS (
      SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS g
      FROM ng WHERE {train_pred}
    )
    SELECT t.doc_id,
           t.n_ngrams AS n_ngrams,
           COUNT(*) AS n_contaminated,
           CAST(COUNT(*) AS DOUBLE) / t.n_ngrams AS contamination_ratio
    FROM train t JOIN bench b USING (g)
    GROUP BY t.doc_id, t.n_ngrams
    """


@query(
    "t_decontaminate",
    oracle=_decontam_oracle("doc_id % 20 <> 0"),
    tags=("textops:decontaminate", "join"),
)
def t_decontaminate(spark, sf_dir) -> DataFrame:
    ng = _ngram4_for(spark, sf_dir)
    bench = (
        ng.filter("doc_id % 20 = 0")
        .selectExpr("explode(ng) AS g")
        .distinct()
    )
    train = ng.filter("doc_id % 20 != 0").selectExpr(
        "doc_id", "CAST(size(ng) AS BIGINT) AS n_ngrams", "explode(ng) AS g"
    )
    return _contamination_report(train, bench)


# --------------------------------------------------------------------------
# Incremental decontamination: the day-2 production twin of
# t_decontaminate — benchmark n-grams live in a PERSISTED SnapshotTable
# (built once when the eval suite is frozen, appended to when a NEW
# benchmark lands), and each new training batch is checked against the
# store in O(batch + matches) text work: only batch text is n-grammed;
# the benchmark corpus contributes nothing but its gram parquet. The
# same store pattern as the incremental dedup tiers, applied to the
# contamination gate every training pipeline runs on ingest.

_BENCH_DDL = "g string"


def build_benchmark_store(spark, bench_docs: DataFrame, root: str):
    """Freeze an eval suite: distinct 4-grams of the benchmark docs,
    persisted as a SnapshotTable (one `g` column)."""
    from ..tables import SnapshotTable

    t = SnapshotTable.create(spark, root, _BENCH_DDL)
    t.write(
        bench_docs.selectExpr(f"explode({NGRAM4_S}) AS g").distinct()
    )
    return t


def decontaminate_batch(
    spark, batch_docs: DataFrame, store, append_bench: DataFrame | None = None
) -> DataFrame:
    """Contamination report for a NEW training batch against the
    persisted benchmark-gram store: (doc_id, n_ngrams, n_contaminated,
    contamination_ratio), one row per batch doc with >= 1 benchmark
    gram. `append_bench` registers a NEW benchmark's grams as a store
    snapshot first (the eval-suite-grew path), so the check covers it.
    The store side is a distinct-gram stream — the join key is the gram
    itself, so AQE picks broadcast vs sort-merge by the store's actual
    size; per-doc totals ride the exploded batch rows (no second pass
    over text)."""
    if append_bench is not None:
        # anti-join the new benchmark's grams against the current store
        # so appends stay duplicate-free — the per-batch check must not
        # pay an O(store) distinct for cross-snapshot repeats
        new_g = append_bench.selectExpr(f"explode({NGRAM4_S}) AS g").distinct()
        store.write(new_g.join(store.scan(), "g", "left_anti"))
    # materialize the gram ARRAYS before the explode (the documented
    # explode-of-expensive-expression pitfall: project-collapse would
    # otherwise re-evaluate the tokenize+shingle expression per OUTPUT
    # row), then take size + explode in ONE projection — a single pass
    # over batch text
    ng = batch_docs.selectExpr(
        "doc_id", f"{NGRAM4_S} AS ng"
    ).localCheckpoint(eager=True)
    train = ng.selectExpr(
        "doc_id", "CAST(size(ng) AS BIGINT) AS n_ngrams", "explode(ng) AS g"
    )
    # prune the store to grams the batch touches BEFORE deduplicating:
    # appends are anti-joined above so duplicates only arise from racing
    # concurrent appends, but a duplicated gram would DOUBLE-COUNT every
    # match — so the distinct stays for correctness, applied after the
    # semi-join where it costs O(matched grams), not O(store)
    bench = store.scan().join(
        train.select("g").distinct(), "g", "left_semi"
    ).distinct()
    return _contamination_report(train, bench)


_bench_store_cache: dict[str, str] = {}


def _benchmark_store_for(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted benchmark store (doc_id % 20 = 0 — the same
    bench slice as t_decontaminate), built once per process."""
    from ..catalog import persisted_store_for

    def build(root):
        bench = fan_out(load_table(spark, sf_dir, "documents")).filter(
            "doc_id % 20 = 0"
        ).select("doc_id", "text")
        build_benchmark_store(spark, bench, root)

    return persisted_store_for(
        spark, sf_dir, _bench_store_cache, "eiws_benchstore_", "grams", build
    )


@query(
    "t_incremental_decontam",
    # Ground truth: t_decontaminate's full recompute (same oracle
    # template) restricted to the batch slice (train docs with
    # doc_id % 5 = 0; bench docs excluded from the batch — a doc cannot
    # contaminate itself)
    oracle=_decontam_oracle("doc_id % 20 <> 0 AND doc_id % 5 = 0"),
    tags=("textops:incremental-decontam", "join", "snapshot-table"),
)
def t_incremental_decontam(spark, sf_dir) -> DataFrame:
    """Incremental decontamination of a new training batch (doc_id % 5
    = 0, bench slice excluded) against the persisted benchmark-gram
    store — batch text n-grammed once, benchmark text never rescanned
    (plan-asserted in tests/test_round11b_ops.py)."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _benchmark_store_for(spark, sf_dir))
    batch = fan_out(load_table(spark, sf_dir, "documents")).filter(
        "doc_id % 5 = 0 AND doc_id % 20 != 0"
    ).select("doc_id", "text")
    return decontaminate_batch(spark, batch, store)


# --------------------------------------------------------------------------
# Unigram language-model quality score — the KenLM-style perplexity filter
# of training-data pipelines, reduced to its deterministic core: a unigram
# LM fit on the corpus itself (token frequencies with add-one smoothing),
# then each document scored by its mean token negative-log-probability.
# Low scores = high-likelihood "fluent" docs; very high scores = junk.
#
# Scale shape: the LM "training" is ONE token-frequency aggregation (the
# same map-side-combining shuffle as t_token_freq); scoring joins the
# exploded corpus against the frequency table on the token key — a plain
# shuffle equi-join (AQE may broadcast the vocab when it is small; with a
# 10M-type vocab at 100 TB it flips to sort-merge on its own). All
# arithmetic is fixed-order per token: the per-doc score is aggregated
# with the exact-decimal sum (order-independent), and because the
# per-token ln() doubles feeding it are NOT guaranteed identical across
# libm builds, the reported mean is rounded to 9 decimals in both
# engines — portable across hosts, still ulp-noise-free discrimination.
@query(
    "t_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_D}) AS tk FROM documents),
         vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM vocab),
         scored AS (
           SELECT t.doc_id,
                  -ln((vocab.cnt + 1.0) / (tot.n + tot.v)) AS nlp
           FROM tok t JOIN vocab ON t.tk = vocab.tk CROSS JOIN tot),
         per_doc AS (
           SELECT doc_id, COUNT(*) AS n_tokens,
                  ROUND(CAST(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                             / COUNT(*) AS DOUBLE), 9) AS mean_nlp
           FROM scored GROUP BY doc_id)
    SELECT doc_id, n_tokens, mean_nlp,
           mean_nlp <= 8.0 AS passes_lm_gate
    FROM per_doc
    """,
    tags=("textops:lm-quality", "join", "agg"),
)
def t_unigram_logprob(spark, sf_dir) -> DataFrame:
    """Per-document mean unigram negative-log-prob under the corpus's own
    add-one-smoothed unigram LM, plus the quality-gate verdict."""
    return _unigram_perdoc(spark, sf_dir).withColumn(
        "passes_lm_gate", F.col("mean_nlp") <= 8.0
    )


def _score_unigram(tok: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_nlp) of `tok` (doc_id, tk) under the
    add-one-smoothed unigram LM given by `vocab` (tk, cnt). The left
    join + coalesce(cnt, 0) handles OOV tokens (cnt=0 → the add-one
    floor), which makes the same core usable whether the vocabulary is
    refit from the scored corpus itself (no OOV possible) or read from a
    maintained store."""
    tot = vocab.agg(
        F.sum("cnt").cast("bigint").alias("n"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        tok.join(vocab, "tk", "left")
        .crossJoin(F.broadcast(tot))  # 1-row scalar: total count + vocab size
        .withColumn(
            "nlp",
            -F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                / (F.col("n") + F.col("v"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        # rounded to 9 decimals in BOTH engines: the decimal accumulator
        # makes the SUM order-independent, but the per-token ln() doubles
        # feeding it are libm-build-dependent in the last ulp — rounding
        # makes the comparison portable across hosts
        F.round(
            (
                F.sum(F.col("nlp").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).cast("double"),
            9,
        ).alias("mean_nlp"),
    )


def _unigram_perdoc(spark, sf_dir) -> DataFrame:
    """(doc_id, n_tokens, mean_nlp): the unigram-LM scoring core shared by
    t_unigram_logprob and t_ccnet_buckets — vocabulary refit from the
    corpus itself."""
    tok = _toks_for(spark, sf_dir).selectExpr("doc_id", "explode(toks) AS tk")
    vocab = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
    return _score_unigram(tok, vocab)


# --------------------------------------------------------------------------
# Bigram language-model quality score — one Markov order up from
# t_unigram_logprob, the closest in-sandbox analogue of the KenLM n-gram
# perplexity filters real pipelines run (CCNet-style): fit a bigram LM on
# the corpus itself with add-one smoothing over the unigram vocabulary,
# P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V), then score
# each document by its mean bigram negative-log-probability. Fluent docs
# (common continuations) score low; token soup scores near ln(V).
#
# Scale shape: LM "training" is TWO frequency aggregations (bigram counts
# + unigram context counts, both map-side combined); scoring is two plain
# equi-joins of the exploded corpus against those tables (AQE broadcasts
# small vocabs, flips to sort-merge at web scale — same as unigram). The
# bigram table is the big one (O(distinct bigrams)) but it is the SAME
# table a KenLM build would materialize; nothing here is quadratic.
# Determinism follows t_unigram_logprob's doctrine: exact-decimal SUM
# (order-free), per-token ln() rounded away at 9 decimals.
@query(
    "t_bigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS_D} AS toks FROM documents),
         uni AS (SELECT unnest(toks) AS tk FROM tok),
         vocab AS (SELECT tk, COUNT(*) AS cu FROM uni GROUP BY tk),
         vsz AS (SELECT COUNT(*) AS v FROM vocab),
         big AS (SELECT doc_id, unnest({_BIGS_FROM_TOKS_D}) AS bg FROM tok),
         bgc AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY bg),
         scored AS (
           SELECT b.doc_id,
                  -ln((bgc.cb + 1.0) / (vocab.cu + vsz.v)) AS nlp
           FROM big b
           JOIN bgc ON b.bg = bgc.bg
           JOIN vocab ON split_part(b.bg, ' ', 1) = vocab.tk
           CROSS JOIN vsz),
         per_doc AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
                  ROUND(CAST(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                             / COUNT(*) AS DOUBLE), 9) AS mean_nlp
           FROM scored GROUP BY doc_id)
    SELECT doc_id, n_bigrams, mean_nlp,
           mean_nlp <= 3.4 AS passes_lm_gate
    FROM per_doc
    """,
    tags=("textops:lm-quality", "join", "agg"),
)
def t_bigram_logprob(spark, sf_dir) -> DataFrame:
    """Per-document mean bigram negative-log-prob under the corpus's own
    add-one-smoothed bigram LM (unigram-context denominator), plus the
    quality-gate verdict. Documents with fewer than two tokens have no
    bigrams and are excluded (inner-join semantics), matching the oracle."""
    toks = _toks_for(spark, sf_dir)
    uni = toks.selectExpr("explode(toks) AS tk")
    vocab = uni.groupBy("tk").agg(F.count(F.lit(1)).alias("cu"))
    vsz = vocab.agg(F.count(F.lit(1)).alias("v"))
    big = toks.selectExpr("doc_id", f"explode({_BIGS_FROM_TOKS_S}) AS bg")
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        big.join(bgc, "bg")
        .withColumn("tk", F.expr("split_part(bg, ' ', 1)"))
        .join(vocab, "tk")
        .crossJoin(F.broadcast(vsz))  # 1-row scalar: vocabulary size
        .withColumn("nlp", -F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v"))))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (
                F.sum(F.col("nlp").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).cast("double"),
            9,
        ).alias("mean_nlp"),
    )
    return per_doc.withColumn("passes_lm_gate", F.col("mean_nlp") <= 3.4)


# --------------------------------------------------------------------------
@query(
    "t_tfidf_keywords",
    # ranking key is INTEGER arithmetic (tf·10⁶ ÷ (df+1), floor division)
    # — exactly reproducible across engines, unlike ln()-based TF-IDF
    # whose last-ulp libm differences can flip ranks (the portability
    # hazard t_unigram_logprob works around with decimal rounding)
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_D}) AS token FROM documents),
         tok3 AS (SELECT doc_id, token FROM tok WHERE length(token) >= 3),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok3 GROUP BY 1, 2),
         df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM tok3 GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                      tf.tf * 1000000 // (df.df + 1) AS score_milli
               FROM tf JOIN df USING (token)),
         r AS (SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_milli DESC, token) AS keyword_rank
               FROM s)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, df, score_milli,
           CAST(keyword_rank AS INT) AS keyword_rank
    FROM r WHERE keyword_rank <= 3
    """,
    tags=("textops:tfidf", "window", "join", "agg"),
)
def t_tfidf_keywords(spark, sf_dir) -> DataFrame:
    """Top-3 TF-IDF keywords per document (tokens ≥ 3 chars).

    Weighting is reciprocal document frequency on a fixed-point integer
    scale: `score_milli = tf·10⁶ div (df+1)` — monotone in tf and 1/df
    like classic TF-IDF, but exact (no floating log), so rank order is
    bit-identical in any engine. Scale shape: one token-grain shuffle for
    tf (map-side combined), one for df, a token-key join (AQE picks
    broadcast when the vocabulary is small), one per-doc window."""
    tok = (
        _toks_for(spark, sf_dir)
        .selectExpr("doc_id", "explode(toks) AS token")
        .filter(F.length("token") >= 3)
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    s = tf.join(df_, "token").withColumn(
        "score_milli", F.expr("tf * 1000000 div (df + 1)")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_milli").desc(), F.col("token")
    )
    return (
        s.withColumn("keyword_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("keyword_rank") <= 3)
        .select("doc_id", "token", F.col("tf").cast("long").alias("tf"),
                "df", "score_milli", "keyword_rank")
    )


# --------------------------------------------------------------------------
_BP_MIN_DOCS = 5  # a shingle seen in >= this many docs of one source is boilerplate

# same 3-token shingle definition as dedup.SHINGLES_D (dedup imports this
# module's TOKS_*, so the shared definition can't be imported back — the
# expression is reconstructed identically; DuckDB's generate_series on an
# empty range yields [], so no <3-token CASE guard is needed here)
_SH_D = f"""
  list_distinct(list_transform(generate_series(1, len({TOKS_D}) - 2),
    i -> {TOKS_D}[i] || ' ' || {TOKS_D}[i + 1] || ' ' || {TOKS_D}[i + 2]))
""".strip()


@query(
    "t_boilerplate",
    # CCNet/Dolma-style boilerplate detection: 3-token shingles repeated
    # across >= N documents of the SAME source are boilerplate; a doc is
    # flagged when more than half its distinct shingles are boilerplate.
    # The verdict compares 2·n_boiler > n_shingles — integer arithmetic,
    # no float fraction in the cross-engine hash.
    oracle=f"""
    WITH s AS (SELECT doc_id, source,
                      {_SH_D} AS sh
               FROM documents),
         e AS (SELECT doc_id, source, unnest(sh) AS shingle FROM s),
         df AS (SELECT source, shingle, COUNT(DISTINCT doc_id) AS n_docs
                FROM e GROUP BY 1, 2),
         per_doc AS (
           SELECT e.doc_id, e.source,
                  COUNT(*) AS n_shingles,
                  CAST(SUM(CASE WHEN df.n_docs >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_boiler
           FROM e JOIN df ON e.source = df.source AND e.shingle = df.shingle
           GROUP BY 1, 2)
    SELECT doc_id, source, CAST(n_shingles AS BIGINT) AS n_shingles, n_boiler,
           2 * n_boiler > n_shingles AS is_boilerplate_heavy
    FROM per_doc
    """,
    tags=("textops:boilerplate", "join", "agg"),
)
def t_boilerplate(spark, sf_dir) -> DataFrame:
    """Per-document boilerplate load: the fraction of a doc's distinct
    3-token shingles that recur across ≥{N} docs of the same source —
    the repeated-template signal CCNet/Dolma strip before training.

    Scale shape: reuses the dedup family's shared shingle
    materialization (the signature table); one (source, shingle)
    aggregation with map-side combine, one shuffle join back on the same
    key, one per-doc aggregation. No floats cross engines."""
    from .dedup import shingle_arrays_for

    docs = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "source")
    sh = shingle_arrays_for(spark, sf_dir)
    e = (
        sh.join(docs, "doc_id")
        .select("doc_id", "source", F.explode("sh").alias("shingle"))
    )
    df_ = e.groupBy("source", "shingle").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    per_doc = (
        e.join(df_, ["source", "shingle"])
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("n_docs") >= _BP_MIN_DOCS).cast("int"))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id", "source", "n_shingles", "n_boiler",
        (2 * F.col("n_boiler") > F.col("n_shingles")).alias("is_boilerplate_heavy"),
    )


# --------------------------------------------------------------------------
# Feature-hashed linear classifier (the fastText/CCNet quality-filter
# SHAPE): hash each token into K buckets, score the document as the sum
# of per-bucket weights, gate on the sign of the mean. The "model" here
# is a fixed deterministic weight table (weight(b) is a pure function of
# the bucket id) — in production the weights come from training, but the
# EXECUTION shape is identical: tokenize → hash → gather weights → sum,
# all built-in array lambdas, zero Python, no shuffle (per-row map).
# Scoring stays in INTEGER space (weights in [-500, 499], exact sum) so
# the cross-engine compare is order-independent and libm-free; the mean
# is the single final division.
_CLS_K = 4096  # hash buckets
_H32_TOK_S = "CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)"
_H32_TOK_D = "CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)"
_W_S = f"((({_H32_TOK_S} % {_CLS_K}) + 1) * 48271) % 1000 - 500"
_W_D = f"((({_H32_TOK_D} % {_CLS_K}) + 1) * 48271) % 1000 - 500"


@query(
    "t_hashed_classifier",
    oracle=f"""
    SELECT doc_id,
           CAST(len({TOKS_D}) AS BIGINT) AS n_tokens,
           CAST(coalesce(list_sum(list_transform({TOKS_D}, x -> {_W_D})), 0)
                AS BIGINT) AS w_sum,
           CASE WHEN len({TOKS_D}) > 0
                THEN CAST(coalesce(list_sum(list_transform({TOKS_D}, x -> {_W_D})), 0)
                          AS DOUBLE) / len({TOKS_D})
                ELSE 0.0 END AS mean_w,
           CASE WHEN len({TOKS_D}) > 0
                AND coalesce(list_sum(list_transform({TOKS_D}, x -> {_W_D})), 0) > 0
                THEN true ELSE false END AS keep
    FROM documents
    """,
    tags=("text", "quality", "classifier"),
)
def t_hashed_classifier(spark, sf_dir) -> DataFrame:
    """Hashed bag-of-words linear scoring per document: md5-prefix token
    hash → one of 4096 buckets → fixed integer weight, summed exactly;
    `keep` gates on a positive mean. The 100 TB shape of every
    fastText-style quality/language filter: map-only, codegen'd, the
    weight table a broadcast-free pure expression (a real model's K×1
    weight vector would ride along as a broadcast literal array)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.selectExpr(
        "doc_id",
        f"CAST(size({TOKS_S}) AS BIGINT) AS n_tokens",
        f"aggregate({TOKS_S}, 0L, (acc, x) -> acc + ({_W_S})) AS w_sum",
        f"""CASE WHEN size({TOKS_S}) > 0
             THEN CAST(aggregate({TOKS_S}, 0L, (acc, x) -> acc + ({_W_S})) AS DOUBLE)
                  / size({TOKS_S})
             ELSE 0.0D END AS mean_w""",
        f"""size({TOKS_S}) > 0
            AND aggregate({TOKS_S}, 0L, (acc, x) -> acc + ({_W_S})) > 0 AS keep""",
    )


# --------------------------------------------------------------------------
# BM25 top-k retrieval: the canonical lexical ranking function (Robertson/
# Sparck Jones probabilistic relevance, the Okapi BM25 form with k1=1.2,
# b=0.75) over the documents corpus for a fixed query-term set. This is
# the retrieval half of a RAG data pipeline — the lexical complement to
# the s_*_topk embedding searches.
_BM25_TERMS = ("vector", "hash", "stream", "window")
_BM25_K = 10
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)
# Scoring expression shared verbatim by both dialects (columns: tf, df,
# dl; scalars: n_docs, avgdl). Per-term values are cast to DECIMAL(38,12)
# before SUM so the doc-level total is addition-order independent, then
# rounded to 9 dp — the same float-portability pattern as
# t_unigram_logprob (ln() libm last-ulp differences stay far below 1e-9).
_BM25_EXPR = (
    "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
)


@query(
    "t_bm25_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS_D} AS toks FROM documents),
         stats AS (SELECT COUNT(*) AS n_docs,
                          CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
                   FROM tok),
         q AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tk FROM tok),
         qt AS (SELECT * FROM q WHERE tk IN ({_BM25_IN})),
         tf AS (SELECT doc_id, dl, tk, COUNT(*) AS tf FROM qt GROUP BY 1, 2, 3),
         idf AS (SELECT tk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                 FROM qt GROUP BY 1),
         scored AS (
           SELECT tf.doc_id,
                  CAST({_BM25_EXPR} AS DECIMAL(38,12)) AS s
           FROM tf JOIN idf USING (tk) CROSS JOIN stats),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms_hit,
                        ROUND(CAST(SUM(s) AS DOUBLE), 9) AS bm25
                 FROM scored GROUP BY 1)
    SELECT doc_id, n_terms_hit, bm25
    FROM agg ORDER BY bm25 DESC, doc_id LIMIT {_BM25_K}
    """,
    tags=("textops:bm25", "retrieval", "topk", "join", "agg"),
)
def t_bm25_topk(spark, sf_dir) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-10 documents for a fixed query.

    Scale shape (the one you'd run on a 100 TB corpus): the query-term
    filter lands ON the explode, so only |Q|-matching tokens survive into
    any shuffle — selectivity |Q|/vocabulary; tf is one map-side-combined
    shuffle at (doc, term) grain; df and the corpus stats are tiny
    aggregates broadcast back (explicit `broadcast()` on both); the final
    top-k is `ORDER BY .. LIMIT k` which Spark executes as
    TakeOrderedAndProject — per-partition heaps, no global sort. No
    driver-side loop, no all-pairs term."""
    toks = _toks_for(spark, sf_dir)
    stats = toks.selectExpr(
        "COUNT(*) AS n_docs",
        "CAST(SUM(size(toks)) AS DOUBLE) / COUNT(*) AS avgdl",
    )
    qt = toks.selectExpr(
        "doc_id", "size(toks) AS dl", "explode(toks) AS tk"
    ).filter(f"tk IN ({_BM25_IN})")
    tf = qt.groupBy("doc_id", "dl", "tk").agg(F.count(F.lit(1)).alias("tf"))
    idf = qt.groupBy("tk").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(idf), "tk")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", f"CAST({_BM25_EXPR} AS DECIMAL(38,12)) AS s")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        F.round(F.sum("s").cast("double"), 9).alias("bm25"),
    )
    return (
        agg.orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_K)
        .select("doc_id", "n_terms_hit", "bm25")
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing: split the corpus into head / middle /
# tail terciles by language-model score (Wenzek et al., "CCNet: Extracting
# High Quality Monolingual Datasets from Web Crawl Data" — their pipeline
# keeps/weights buckets differently downstream). Score = the same
# add-one-smoothed unigram mean-NLP as t_unigram_logprob (rounded 9 dp,
# so the bucketing key is bit-identical cross-engine).
#
# Cutoffs are ORDER STATISTICS computed without any global sort of the
# corpus: aggregate a histogram at score grain (the 9-dp rounding IS the
# grain), run the cumulative count over DISTINCT SCORES ONLY, and pick the
# smallest score whose cumulative count reaches ceil(n/3) / ceil(2n/3) —
# pure integer arithmetic (cum * 3 >= n ⟺ cum >= ceil(n/3)), no float
# quantile interpolation to disagree across engines. Ties on the cutoff
# score land in the lower bucket by definition, so bucket membership is a
# function of the score alone. The single-partition window runs over
# O(distinct scores) rows — the distributed-selection shape (score the
# corpus in parallel, select cutoffs on the tiny histogram, broadcast them
# back), which is how you'd bucket 100 TB; CCNet itself fits cutoffs on a
# sample for the same reason.
_UNI_PERDOC_D = f"""
    tok AS (SELECT doc_id, unnest({TOKS_D}) AS tk FROM documents),
         vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM vocab),
         scored AS (
           SELECT t.doc_id,
                  -ln((vocab.cnt + 1.0) / (tot.n + tot.v)) AS nlp
           FROM tok t JOIN vocab ON t.tk = vocab.tk CROSS JOIN tot),
         per_doc AS (
           SELECT doc_id, COUNT(*) AS n_tokens,
                  ROUND(CAST(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                             / COUNT(*) AS DOUBLE), 9) AS mean_nlp
           FROM scored GROUP BY doc_id)
""".strip()


@query(
    "t_ccnet_buckets",
    oracle=f"""
    WITH {_UNI_PERDOC_D},
         hist AS (SELECT mean_nlp, COUNT(*) AS c FROM per_doc GROUP BY 1),
         cum AS (SELECT mean_nlp,
                        SUM(c) OVER (ORDER BY mean_nlp) AS cum,
                        (SELECT SUM(c) FROM hist) AS n
                 FROM hist),
         cuts AS (SELECT
                    MIN(CASE WHEN cum * 3 >= n THEN mean_nlp END) AS c1,
                    MIN(CASE WHEN cum * 3 >= 2 * n THEN mean_nlp END) AS c2
                  FROM cum)
    SELECT doc_id, n_tokens, mean_nlp,
           CASE WHEN mean_nlp <= c1 THEN 'head'
                WHEN mean_nlp <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM per_doc CROSS JOIN cuts
    """,
    tags=("textops:ccnet", "quality", "window", "agg"),
)
def t_ccnet_buckets(spark, sf_dir) -> DataFrame:
    """Head/middle/tail perplexity terciles over the unigram-LM score."""
    from pyspark.sql import Window

    # scored twice (histogram branch + the bucketed output) — materialize
    # once at doc grain, the same write-once/read-N staging the 100 TB
    # version would use for the scored table
    per_doc = _unigram_perdoc(spark, sf_dir).localCheckpoint(eager=True)
    hist = per_doc.groupBy("mean_nlp").agg(F.count(F.lit(1)).alias("c"))
    # cumulative over distinct scores only (tiny relation) + the scalar n
    w = Window.orderBy("mean_nlp").rowsBetween(Window.unboundedPreceding, 0)
    n_row = hist.agg(F.sum("c").alias("n"))  # 1-row scalar: corpus doc count
    cum = hist.withColumn("cum", F.sum("c").over(w)).crossJoin(F.broadcast(n_row))
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("mean_nlp"))).alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("mean_nlp"))).alias("c2"),
    )
    return per_doc.crossJoin(F.broadcast(cuts)).selectExpr(
        "doc_id",
        "n_tokens",
        "mean_nlp",
        """CASE WHEN mean_nlp <= c1 THEN 'head'
                WHEN mean_nlp <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket""",
    )


# --------------------------------------------------------------------------
# Token-distribution Shannon entropy per document: H = ln(n) − Σ c·ln(c)/n
# over the per-document token histogram — near 0 for one-token spam, near
# ln(n_tokens) for all-distinct text. A low-entropy gate is the
# information-theoretic twin of t_repetition's duplicate-fraction rules
# (Gopher-style repetitive-doc filtering). Same linear shape as
# t_repetition's fixed form: explode → count per (doc, token) with
# map-side combine → one per-doc aggregate; O(len) per document, no
# interpreted array lambdas. Determinism: each c·ln(c) double is rounded
# into DECIMAL(38,12) before the order-free exact SUM, the final entropy
# rounded to 9 dp (the t_unigram_logprob doctrine).
@query(
    "t_entropy",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_D}) AS tk FROM documents),
         cnt AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         per_doc AS (
           SELECT doc_id,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  COUNT(*) AS n_distinct,
                  ROUND(CAST(ln(SUM(c))
                             - CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,12)))
                                    AS DOUBLE) / SUM(c) AS DOUBLE), 9) AS entropy
           FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct, entropy,
           entropy < 1.0 AS low_entropy
    FROM per_doc
    """,
    tags=("textops:entropy", "quality", "agg"),
)
def t_entropy(spark, sf_dir) -> DataFrame:
    """Per-document token Shannon entropy + the low-entropy spam gate."""
    cnt = (
        _toks_for(spark, sf_dir)
        .selectExpr("doc_id", "explode(toks) AS tk")
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            (
                F.log(F.sum("c"))
                - F.sum(F.expr("CAST(c * ln(c) AS DECIMAL(38,12))")).cast("double")
                / F.sum("c")
            ).cast("double"),
            9,
        ).alias("entropy"),
    )
    return per_doc.withColumn("low_entropy", F.col("entropy") < 1.0)


# --------------------------------------------------------------------------
# Heavy hitters, two-pass exact: the scalable alternative to t_token_freq's
# single global groupBy. Pass 1 runs a Misra–Gries-style local sketch per
# Arrow batch (emit (token, local_count) for tokens with local_count >
# n_i/CAPACITY), merges the emissions, and keeps tokens whose merged sum
# exceeds N/CAPACITY; pass 2 exactly recounts ONLY those candidates
# (broadcast semi-join inside the scan) and takes the top k. The global
# shuffle therefore carries candidate tokens only — at 100 TB the long
# Zipf tail (the overwhelming shuffle mass of a naive token groupBy)
# never leaves the map side.
#
# Two provable bounds make this the shippable shape:
# - candidate-set size ≤ CAPACITY globally (each survivor's merged sum
#   exceeds N/CAPACITY and the sums total ≤ N), so the broadcast side is
#   constant-bounded at ANY corpus scale — the lint-clean broadcast;
# - exactness whenever the k-th true count > 2N/CAPACITY: a token's
#   emitted sum S ≥ global_count − Σᵢ nᵢ/CAPACITY ≥ global_count −
#   N/CAPACITY, so global_count > 2N/CAPACITY forces S > N/CAPACITY and
#   the token survives the merge threshold. Guaranteed for any
#   Zipf-shaped corpus with k << CAPACITY; at the fixtures' scales the
#   vocabulary is ~10² while 2N/CAPACITY is single digits.

_HH_CAPACITY = 2048
_HH_K = 25


def heavy_hitter_candidates(docs: DataFrame, capacity: int = _HH_CAPACITY) -> DataFrame:
    """Pass 1 local stage: per-batch (token, local_count) emissions for
    tokens clearing the batch-local n_i/capacity bar."""
    import re

    import pandas as pd

    tok_re = re.compile(r"[a-z0-9]+")

    def batches(it):
        for pdf in it:
            counts: dict[str, int] = {}
            n = 0
            for text in pdf["text"]:
                for t in tok_re.findall(text):
                    counts[t] = counts.get(t, 0) + 1
                    n += 1
            thresh = n / capacity
            cand = [(t, c) for t, c in counts.items() if c > thresh]
            if cand:
                yield pd.DataFrame(
                    {"token": [t for t, _ in cand], "cnt": [c for _, c in cand]}
                )

    return docs.select("text").mapInPandas(batches, schema="token string, cnt long")


@query(
    "t_heavy_hitters",
    oracle=f"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest({TOKS_D}) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token LIMIT {_HH_K}
    """,
    tags=("text", "tokens", "topk", "sketch"),
)
def t_heavy_hitters(spark, sf_dir) -> DataFrame:
    """Exact top-25 tokens via the two-pass candidate-pruned plan; the
    DuckDB oracle is the plain one-pass top-k, so the candidate guarantee
    itself is what's graded."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # 1-row scalar: the exact global token count N (scan-side array size)
    n_tot = docs.selectExpr(f"size({TOKS_S}) AS n").agg(
        F.sum("n").cast("long").alias("n_total")
    )
    # merged sketch: ≤ CAPACITY survivors by the Σ-sums-≤-N argument above
    hh_cand = (
        heavy_hitter_candidates(docs)
        .groupBy("token")
        .agg(F.sum("cnt").alias("s"))
        .crossJoin(F.broadcast(n_tot))
        .filter(F.col("s") > F.col("n_total") / _HH_CAPACITY)
        .select("token")
    )
    counted = (
        docs.selectExpr(f"explode({TOKS_S}) AS token")
        .join(F.broadcast(hh_cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return top_k(counted, [F.col("freq").desc(), F.col("token")], _HH_K)


# --------------------------------------------------------------------------
# Incremental token-frequency maintenance: the persisted-state twin of
# t_token_freq — the corpus's token counts live in a SnapshotTable
# created MERGE-ON-READ, and each new batch updates it with one
# O(batch-vocabulary) MERGE (append + equality delete, no table
# rewrite): count the batch, add the current counts for the tokens the
# batch touches (store semi-joined down to the batch vocabulary), merge
# the summed rows back. This is the vocabulary/frequency table every
# tokenizer-training pipeline maintains across ingest runs, expressed
# through the table format's row-level DML instead of a full recount.
# (doc_freq is deliberately absent: distinct-doc counts are not
# incrementally maintainable from per-token state alone.)

_TF_DDL = "token string, freq bigint"


def build_token_freq_store(spark, docs: DataFrame, root: str):
    """Day-1 build: one token-frequency aggregation of the corpus,
    persisted MERGE-ON-READ so day-2 updates commit O(batch) deltas."""
    from ..tables import SnapshotTable

    t = SnapshotTable.create(
        spark, root, _TF_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.write(
        docs.selectExpr(f"explode({TOKS_S}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return t


def update_token_freq(
    spark, batch_docs: DataFrame, store, batch_id: int | None = None,
    scope: str | None = None,
) -> int | None:
    """Fold a NEW batch into the persisted frequency table: batch text
    is tokenized once; the store contributes only the rows the batch's
    vocabulary touches (semi-join — untouched tokens never move); the
    MERGE commits the summed counts. Returns the merge snapshot id.
    Pass (batch_id, scope) from a replayable caller to make the fold
    exactly-once (returns None on a replay skip) — a summed MERGE run
    twice double-counts, unlike the keyed-idempotent signature appends."""
    stamp = store.stream_stamp(scope, batch_id)
    if stamp is None:
        return None
    delta = (
        batch_docs.selectExpr(f"explode({TOKS_S}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("dfreq"))
    )
    cur = store.scan().join(delta.select("token"), "token", "left_semi")
    src = delta.join(cur, "token", "left").selectExpr(
        "token", "dfreq + coalesce(freq, CAST(0 AS BIGINT)) AS freq"
    )
    return store.merge(src, keys=["token"], summary_extra=stamp)


_tf_store_cache: dict[str, str] = {}


def _token_freq_store_for(spark, sf_dir: str) -> str:
    """Day-1 corpus build (doc_id % 5 != 0) PLUS the day-2 batch merge
    (doc_id % 5 = 0), cached per process — the graded query reads the
    maintained state, whose equality with the full-corpus recount is the
    maintenance-math proof."""
    from ..catalog import persisted_store_for
    from ..tables import SnapshotTable

    def build(root):
        docs = fan_out(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        )
        t = build_token_freq_store(spark, docs.filter("doc_id % 5 != 0"), root)
        update_token_freq(spark, docs.filter("doc_id % 5 = 0"), t)

    return persisted_store_for(
        spark, sf_dir, _tf_store_cache, "eiws_tfstore_", "freqs", build
    )


@query(
    "t_incremental_token_freq",
    # Ground truth: the from-scratch recount over the FULL corpus — the
    # maintained store (day-1 counts + one day-2 MERGE) must equal it
    # token-for-token; top-50 under the same total order as t_token_freq
    oracle=f"""
    SELECT token, freq FROM (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest({TOKS_D}) AS token FROM documents)
      GROUP BY token)
    ORDER BY freq DESC, token LIMIT 50
    """,
    tags=("textops:incremental-token-freq", "merge", "snapshot-table", "topk"),
)
def t_incremental_token_freq(spark, sf_dir) -> DataFrame:
    """Top-50 tokens read from the INCREMENTALLY MAINTAINED frequency
    store (merge-on-read MERGE of the day-2 batch into day-1 corpus
    counts) — equality with the full recount proves the O(batch)
    maintenance path loses and invents nothing."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _token_freq_store_for(spark, sf_dir))
    return top_k(store.scan(), [F.col("freq").desc(), F.col("token")], 50)


@query(
    "t_incremental_lm",
    # Ground truth: the FULL REFIT — tokenize the whole corpus, count the
    # vocabulary from scratch, score the batch under it. The Spark side
    # never recounts: it reads the maintained store, so equality proves
    # the end-to-end incremental ingest gate (maintain counts via MERGE,
    # score new batches under the maintained LM) matches a from-scratch
    # retrain token-for-token and ulp-for-rounded-ulp.
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_D}) AS tk FROM documents),
         vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM vocab),
         scored AS (
           SELECT t.doc_id,
                  -ln((vocab.cnt + 1.0) / (tot.n + tot.v)) AS nlp
           FROM tok t JOIN vocab ON t.tk = vocab.tk CROSS JOIN tot
           WHERE t.doc_id % 5 = 0),
         per_doc AS (
           SELECT doc_id, COUNT(*) AS n_tokens,
                  ROUND(CAST(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                             / COUNT(*) AS DOUBLE), 9) AS mean_nlp
           FROM scored GROUP BY doc_id)
    SELECT doc_id, n_tokens, mean_nlp,
           mean_nlp <= 8.0 AS passes_lm_gate
    FROM per_doc
    """,
    tags=("textops:incremental-lm", "join", "snapshot-table"),
)
def t_incremental_lm(spark, sf_dir) -> DataFrame:
    """Unigram-LM quality gate for the day-2 batch (doc_id % 5 = 0) with
    the language model read from the MAINTAINED token-frequency store
    (`t_incremental_token_freq`'s MERGE-maintained table) instead of a
    per-run corpus refit — the fully incremental ingest-gate path
    (VERDICT r11 task 5): batch text is tokenized once, the corpus
    contributes only its vocabulary-sized frequency table."""
    from ..tables import SnapshotTable

    store = SnapshotTable(spark, _token_freq_store_for(spark, sf_dir))
    vocab = store.scan().selectExpr("token AS tk", "freq AS cnt")
    tok = (
        _toks_for(spark, sf_dir)
        .filter("doc_id % 5 = 0")
        .selectExpr("doc_id", "explode(toks) AS tk")
    )
    return _score_unigram(tok, vocab).withColumn(
        "passes_lm_gate", F.col("mean_nlp") <= 8.0
    )


# --------------------------------------------------------------------------
# Incremental BM25 — the retrieval-side twin of `t_incremental_lm`
# (VERDICT r11 "missing #3", final member): the corpus state BM25 needs
# (per-token DOCUMENT frequencies + the corpus doc/token totals behind
# avgdl) lives in two MERGE-ON-READ SnapshotTables and is maintained with
# one O(batch-vocabulary) MERGE per batch — df[token] += batch docs
# containing token; (n_docs, total_tokens) += batch totals — so scoring a
# new batch never recounts the corpus. (df IS incrementally maintainable
# for appends, unlike distinct-doc counts from per-token unigram state
# alone — the reason t_incremental_token_freq deliberately omitted it;
# retraction of a doc would need its token set, which apply_cdc_batch has
# in hand for U/D rows.)

_DF_DDL = "token string, df bigint"
_CS_DDL = "k int, n_docs bigint, total_tokens bigint"


def build_doc_freq_store(spark, docs: DataFrame, df_root: str, stats_root: str):
    """Day-1 build: one pass over corpus text → per-token document
    frequencies (df table) + the 1-row corpus totals (stats table), both
    merge-on-read so day-2 updates commit O(batch) deltas."""
    from ..tables import SnapshotTable

    toks = docs.selectExpr(f"{TOKS_S} AS toks").localCheckpoint(eager=True)
    df_t = SnapshotTable.create(
        spark, df_root, _DF_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    df_t.write(
        toks.selectExpr("explode(array_distinct(toks)) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    st_t = SnapshotTable.create(
        spark, stats_root, _CS_DDL,
        properties={"write.merge.mode": "merge-on-read"},
    )
    st_t.write(
        toks.selectExpr("CAST(size(toks) AS BIGINT) AS dl").selectExpr(
            "CAST(0 AS INT) AS k",
            "CAST(COUNT(*) AS BIGINT) AS n_docs",
            "CAST(SUM(dl) AS BIGINT) AS total_tokens",
        )
    )
    return df_t, st_t


def update_doc_freq(
    spark, batch_docs: DataFrame, df_store, stats_store,
    batch_id: int | None = None, scope: str | None = None,
) -> None:
    """Fold a NEW batch into the maintained BM25 state: batch text is
    tokenized ONCE; the df table contributes only the rows the batch's
    vocabulary touches (semi-join); both MERGEs commit O(batch) deltas.
    Pass (batch_id, scope) from a replayable caller for exactly-once —
    EACH table guards itself, so a crash between the two merges replays
    only the missing one and the tables cannot diverge."""
    toks = batch_docs.selectExpr(f"{TOKS_S} AS toks").localCheckpoint(eager=True)
    delta = (
        toks.selectExpr("explode(array_distinct(toks)) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ddf"))
    )
    cur = df_store.scan().join(delta.select("token"), "token", "left_semi")
    src = delta.join(cur, "token", "left").selectExpr(
        "token", "ddf + coalesce(df, CAST(0 AS BIGINT)) AS df"
    )
    stamp = df_store.stream_stamp(scope, batch_id)
    if stamp is not None:
        df_store.merge(src, keys=["token"], summary_extra=stamp)
    batch_tot = toks.selectExpr("CAST(size(toks) AS BIGINT) AS dl").selectExpr(
        "CAST(0 AS INT) AS k",
        "CAST(COUNT(*) AS BIGINT) AS bn",
        "CAST(SUM(dl) AS BIGINT) AS bt",
    )
    prev = stats_store.scan()
    ssrc = batch_tot.join(prev, "k", "left").selectExpr(
        "k",
        "bn + coalesce(n_docs, CAST(0 AS BIGINT)) AS n_docs",
        "bt + coalesce(total_tokens, CAST(0 AS BIGINT)) AS total_tokens",
    )
    stamp = stats_store.stream_stamp(scope, batch_id)
    if stamp is not None:
        stats_store.merge(ssrc, keys=["k"], summary_extra=stamp)


_bm25_store_cache: dict[str, str] = {}


def _bm25_store_for(spark, sf_dir: str) -> str:
    """Day-1 corpus build (doc_id % 5 != 0) PLUS the day-2 batch merge
    (doc_id % 5 = 0), cached per process — returns the df table root; the
    stats table is its sibling `stats` dir."""
    import os

    from ..catalog import persisted_store_for

    def build(df_root):
        stats_root = os.path.join(os.path.dirname(df_root), "stats")
        docs = fan_out(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        )
        df_t, st_t = build_doc_freq_store(
            spark, docs.filter("doc_id % 5 != 0"), df_root, stats_root
        )
        update_doc_freq(spark, docs.filter("doc_id % 5 = 0"), df_t, st_t)

    return persisted_store_for(
        spark, sf_dir, _bm25_store_cache, "eiws_bm25store_", "df", build
    )


@query(
    "t_incremental_bm25",
    # Ground truth: the FULL REFIT — df and avgdl recounted from the
    # whole corpus, batch docs scored under them (t_bm25_topk's oracle
    # with tf restricted to the batch). The Spark side reads the
    # MERGE-maintained df/stats tables instead, so equality proves the
    # incremental maintenance math (df adds, totals adds) and the scoring
    # parity together.
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS_D} AS toks FROM documents),
         stats AS (SELECT COUNT(*) AS n_docs,
                          CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
                   FROM tok),
         q AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tk FROM tok),
         qt AS (SELECT * FROM q WHERE tk IN ({_BM25_IN})),
         tf AS (SELECT doc_id, dl, tk, COUNT(*) AS tf FROM qt
                WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
         idf AS (SELECT tk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                 FROM qt GROUP BY 1),
         scored AS (
           SELECT tf.doc_id,
                  CAST({_BM25_EXPR} AS DECIMAL(38,12)) AS s
           FROM tf JOIN idf USING (tk) CROSS JOIN stats),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms_hit,
                        ROUND(CAST(SUM(s) AS DOUBLE), 9) AS bm25
                 FROM scored GROUP BY 1)
    SELECT doc_id, n_terms_hit, bm25
    FROM agg ORDER BY bm25 DESC, doc_id LIMIT {_BM25_K}
    """,
    tags=("textops:incremental-bm25", "retrieval", "merge", "snapshot-table", "topk"),
)
def t_incremental_bm25(spark, sf_dir) -> DataFrame:
    """BM25 top-10 of the day-2 batch (doc_id % 5 = 0) scored with idf
    and avgdl read from the MERGE-MAINTAINED document-frequency + corpus
    stats tables — batch text tokenized once, the corpus contributing
    only a |Q|-row df lookup and a 1-row totals read. The query-term
    filter pushes down to the df table's parquet scan."""
    import os

    from ..tables import SnapshotTable

    df_root = _bm25_store_for(spark, sf_dir)
    df_store = SnapshotTable(spark, df_root)
    stats_store = SnapshotTable(
        spark, os.path.join(os.path.dirname(df_root), "stats")
    )
    idf = df_store.scan().filter(f"token IN ({_BM25_IN})").selectExpr(
        "token AS tk", "df"
    )
    stats = stats_store.scan().selectExpr(
        "n_docs", "CAST(total_tokens AS DOUBLE) / n_docs AS avgdl"
    )
    qt = (
        _toks_for(spark, sf_dir)
        .filter("doc_id % 5 = 0")
        .selectExpr("doc_id", "size(toks) AS dl", "explode(toks) AS tk")
        .filter(f"tk IN ({_BM25_IN})")
    )
    tf = qt.groupBy("doc_id", "dl", "tk").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(F.broadcast(idf), "tk")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", f"CAST({_BM25_EXPR} AS DECIMAL(38,12)) AS s")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        F.round(F.sum("s").cast("double"), 9).alias("bm25"),
    )
    return (
        agg.orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_K)
        .select("doc_id", "n_terms_hit", "bm25")
    )
