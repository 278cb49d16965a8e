"""Text-analysis operators over ``documents`` (SURVEY.md §2 B27).

Language-ID, quality scoring, token counting, fingerprinting — the
text-side of an LLM training-data pipeline. Everything is built-in Spark
SQL functions (JVM codegen, no Python in the hot path); tokenization is a
plain single-space split so the DuckDB oracle can reproduce it exactly.

Scale: per-document scoring is embarrassingly parallel (map-only, no
shuffle). Token counting shuffles once on the token key; top-k per group
uses a rank window after a partial aggregate, so the shuffle carries
(token, count) pairs, not raw tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.operators.dedup import _token_rows
from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.materialize import materialize

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Per-document quality metrics (map-only).
# --------------------------------------------------------------------------
@_register(
    "text_quality_documents",
    """
    SELECT doc_id, lang, source,
           LENGTH(text) AS n_chars_calc,
           LEN(STRING_SPLIT(text, ' ')) AS n_words,
           LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS n_periods,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS avg_word_len,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                    t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio,
           CASE WHEN LENGTH(text) >= 300 THEN 1 ELSE 0 END AS is_long
    FROM documents
    ORDER BY doc_id
    """,
)
def text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.length("text").alias("n_chars_calc"),
            n_words.alias("n_words"),
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(".")))).alias(
                "n_periods"
            ),
            (
                F.length(F.replace(F.col("text"), F.lit(" "))).cast("double") / n_words
            ).alias("avg_word_len"),
            (
                F.size(
                    F.filter(
                        F.split(F.lower("text"), " "),
                        lambda t: t.isin("the", "a", "of", "and"),
                    )
                ).cast("double")
                / n_words
            ).alias("stopword_ratio"),
            F.when(F.length("text") >= 300, F.lit(1)).otherwise(F.lit(0)).alias("is_long"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Corpus token counting: top-20 tokens per language.
# --------------------------------------------------------------------------
@_register(
    "token_top20_per_lang",
    """
    WITH toks AS (
      SELECT lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rnk
      FROM counts)
    WHERE rnk <= 20 AND token <> ''
    ORDER BY lang, rnk
    """,
)
def token_top20_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counts = tokens.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 20) & (F.col("token") != ""))
        .orderBy("lang", "rnk")
    )


# --------------------------------------------------------------------------
# Document fingerprint: stable content hash (md5 — identical in DuckDB) and
# a coarse simhash-style bucket from the first 8 hex chars.
# --------------------------------------------------------------------------
@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           MD5(text) AS fp,
           SUBSTRING(MD5(text), 1, 4) AS bucket,
           LENGTH(text) AS n_chars_calc
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5("text").alias("fp"),
            F.substring(F.md5("text"), 1, 4).alias("bucket"),
            F.length("text").alias("n_chars_calc"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# B27 — language identification by stopword-hit scoring. Per-language
# stopword lists are tiny constants compiled into the plan (no join, no
# shuffle — pure map, codegen'd). Prediction = argmax score with a fixed
# tie-break order. On the synthetic corpus most docs score 'en'; the
# operator's contract is the deterministic scoring recipe, not corpus
# accuracy, so the oracle replays it exactly.
# --------------------------------------------------------------------------
_STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "los", "y"],
    "fr": ["le", "la", "les", "et"],
    "zh": ["de", "le", "shi", "he"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def _duck_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


@_register(
    "language_id_stopwords",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {', '.join(f'{_duck_score(lg)} AS score_{lg}' for lg in _LANG_ORDER)}
      FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
            FROM documents)
    )
    SELECT doc_id, lang AS stored_lang,
           CASE {' '.join(
               f"WHEN score_{lg} >= GREATEST({', '.join('score_' + o for o in _LANG_ORDER)}) THEN '{lg}'"
               for lg in _LANG_ORDER)}
           END AS predicted_lang,
           {', '.join(f'score_{lg}' for lg in _LANG_ORDER)},
           CASE WHEN lang = CASE {' '.join(
               f"WHEN score_{lg} >= GREATEST({', '.join('score_' + o for o in _LANG_ORDER)}) THEN '{lg}'"
               for lg in _LANG_ORDER)} END THEN 1 ELSE 0 END AS agree
    FROM scored
    ORDER BY doc_id
    """,
)
def language_id_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")

    def score(lang):
        hits = set(_STOPWORDS[lang])
        return F.size(F.filter(toks, lambda t: t.isin(*hits)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("stored_lang"),
        *[score(lg).alias(f"score_{lg}") for lg in _LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in _LANG_ORDER])
    pred = F.lit(None).cast("string")
    # build CASE in reverse so earlier langs win ties (matches SQL order)
    for lg in reversed(_LANG_ORDER):
        pred = F.when(F.col(f"score_{lg}") >= best, F.lit(lg)).otherwise(pred)
    return (
        scored.withColumn("predicted_lang", pred)
        .withColumn(
            "agree",
            F.when(F.col("stored_lang") == F.col("predicted_lang"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        # Explicit select to match the oracle's column ORDER exactly
        # (doc_id, stored_lang, predicted_lang, score_*, agree) — the
        # driver's hash is column-order-sensitive.
        .select(
            "doc_id",
            "stored_lang",
            "predicted_lang",
            *[f"score_{lg}" for lg in _LANG_ORDER],
            "agree",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# B27 — BPE-ish regex token counting: letter runs, digit runs, and single
# punctuation marks, the standard pre-tokenizer shape. The pattern uses
# only constructs RE2 (DuckDB) and the Java regex engine (Spark) treat
# identically: literal classes, +, alternation with leftmost-longest runs.
# Map-only per doc; corpus rollup is one partial-aggregated shuffle.
# --------------------------------------------------------------------------
_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@_register(
    "token_stats_regex",
    f"""
    WITH tokd AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_filter(toks, t -> t ~ '^[a-z]+$'))) AS BIGINT) AS word_tokens,
           CAST(SUM(len(list_filter(toks, t -> t ~ '^[0-9]+$'))) AS BIGINT) AS num_tokens,
           CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS sum_distinct_per_doc,
           MIN(len(toks)) AS min_tokens,
           MAX(len(toks)) AS max_tokens
    FROM tokd
    GROUP BY lang
    ORDER BY lang
    """,
)
def token_stats_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(lower(text), '{_TOKEN_RE}', 0)")
    tokd = docs.select("doc_id", "lang", toks.alias("toks"))
    is_word = lambda t: t.rlike("^[a-z]+$")  # noqa: E731
    is_num = lambda t: t.rlike("^[0-9]+$")  # noqa: E731
    return (
        tokd.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("toks")).alias("total_tokens"),
            F.sum(F.size(F.filter("toks", is_word))).alias("word_tokens"),
            F.sum(F.size(F.filter("toks", is_num))).alias("num_tokens"),
            F.sum(F.size(F.array_distinct("toks"))).alias("sum_distinct_per_doc"),
            F.min(F.size("toks")).alias("min_tokens"),
            F.max(F.size("toks")).alias("max_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# B27 — rolling-hash document fingerprint (Rabin-Karp shape): fold the
# token stream through acc = (acc*31 + h(tok)) mod 2^31-1, where h is the
# md5-derived 32-bit token hash. Unlike the order-free md5 fingerprint,
# this hash is sensitive to token ORDER — the fingerprint a shingling
# pipeline chains from. Fold order is pinned identically in both engines
# (explicit seed, left fold).
# --------------------------------------------------------------------------
_RH_MOD = 2147483647
_TOKS_SQL = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@_register(
    "doc_rolling_hash",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_TOKS_SQL},
                 t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % {_RH_MOD}) AS rolling_hash,
           len({_TOKS_SQL}) AS n_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    rolling = F.aggregate(
        hs,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % F.lit(_RH_MOD),
    )
    return docs.select(
        "doc_id",
        rolling.alias("rolling_hash"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Training-pipeline extras: deterministic dataset splitting and stratified
# sampling. Both derive a stable per-document bucket in [0, 100) from
# md5(doc_id) — reproducible across runs, engines, and cluster sizes
# (no RNG state, no partition-order dependence), which is what makes a
# 100 TB train/val/test split auditable. Map-only; the only shuffle is the
# tiny per-stratum count aggregate in the sampling query.
# --------------------------------------------------------------------------
_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _bucket_col() -> F.Column:
    """Stable [0,100) bucket: first 8 hex chars of md5(doc_id) mod 100."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )


@_register(
    "dataset_split_assign",
    f"""
    SELECT doc_id,
           {_BUCKET_SQL} AS bucket,
           CASE WHEN {_BUCKET_SQL} < 98 THEN 'train'
                WHEN {_BUCKET_SQL} = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """98/1/1 train/val/test assignment, deterministic in doc_id.

    Map-only (no shuffle): the split label is a pure function of the row,
    so it scales to any table size and any executor count, and re-running
    on appended data never reassigns existing documents.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket_col()
    return (
        docs.select(
            "doc_id",
            b.alias("bucket"),
            F.when(b < 98, F.lit("train"))
            .when(b == 98, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@_register(
    "stratified_sample_counts",
    f"""
    WITH rated AS (
      SELECT lang, n_chars,
             {_BUCKET_SQL} AS bucket,
             CASE WHEN lang = 'en' THEN 5 ELSE 20 END AS rate_pct
      FROM documents
    )
    SELECT lang,
           MIN(rate_pct) AS rate_pct,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN bucket < rate_pct THEN n_chars ELSE 0 END)
             AS BIGINT) AS sampled_chars
    FROM rated
    GROUP BY lang
    ORDER BY lang
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: 5% of 'en', 20% elsewhere.

    The rebalance-dominant-language recipe: membership is bucket <
    per-stratum rate, so the sample is a stable subset (growing the rate
    strictly grows the sample). One small aggregate shuffle on lang;
    map-side partial aggregation carries four longs per stratum.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(5)).otherwise(F.lit(20))
    rated = docs.select(
        "lang",
        "n_chars",
        _bucket_col().alias("bucket"),
        rate.alias("rate_pct"),
    )
    in_sample = F.col("bucket") < F.col("rate_pct")
    return (
        rated.groupBy("lang")
        .agg(
            F.min("rate_pct").alias("rate_pct"),
            F.count("*").alias("n_docs"),
            F.sum(F.when(in_sample, 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(in_sample, F.col("n_chars")).otherwise(0)).alias(
                "sampled_chars"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Repetition-based quality filtering (the Gopher-rules shape): documents
# dominated by one token or one bigram are boilerplate/spam candidates.
# Per doc: distinct-token ratio, top-token fraction, top-bigram fraction,
# and the combined is_repetitive verdict.
#
# Physical shape: one posexplode, two (doc_id, term)-keyed partial
# aggregates (the shuffle carries counts, never text beyond single
# terms), then a per-doc max. All ratios are exact-int divisions done
# once at the end (IEEE-identical across engines).
# --------------------------------------------------------------------------
@_register(
    "repetition_filter_documents",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    tok_stats AS (
      SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
             MAX(c) AS top_tok
      FROM tok_counts GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '')
                     AS toks
            FROM documents)
    ),
    gram_counts AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
    ),
    gram_stats AS (
      SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram
      FROM gram_counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS distinct_ratio,
           CAST(t.top_tok AS DOUBLE) / t.n_tokens AS top_token_frac,
           CAST(COALESCE(g.top_bigram, 0) AS DOUBLE)
             / GREATEST(COALESCE(g.n_bigrams, 0), 1) AS top_bigram_frac,
           CASE WHEN CAST(t.top_tok AS DOUBLE) / t.n_tokens > 0.20
                  OR CAST(COALESCE(g.top_bigram, 0) AS DOUBLE)
                     / GREATEST(COALESCE(g.n_bigrams, 0), 1) > 0.15
                  OR CAST(t.n_distinct AS DOUBLE) / t.n_tokens < 0.30
                THEN 1 ELSE 0 END AS is_repetitive
    FROM tok_stats t LEFT JOIN gram_stats g USING (doc_id)
    ORDER BY doc_id
    """,
)
def repetition_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate over ``documents``.

    Flags documents whose top token exceeds 20% of all tokens, whose top
    bigram exceeds 15% of bigrams, or whose distinct-token ratio falls
    below 30%. Two partial-aggregated shuffles keyed on (doc_id, term);
    the per-doc reduction then shuffles one row of counts per document.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _token_rows(docs)
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("count").alias("top_tok"),
        )
    )
    # consecutive bigrams straight off the map-side token array
    # (zip_with over two shifted slices) — the previous Window(lead)
    # spelling exchanged and sorted every token row just to pair
    # neighbours
    from iceberg_loader_spark.operators.dedup import (
        _gram_expr,
        _token_arrays,
    )

    grams = (
        _token_arrays(docs)
        .filter(F.size("ts") >= 2)
        .select("doc_id", F.explode(_gram_expr(2)).alias("gram"))
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .count()
        .groupBy("doc_id")
        .agg(F.sum("count").alias("n_bigrams"), F.max("count").alias("top_bigram"))
    )
    top_token_frac = F.col("top_tok").cast("double") / F.col("n_tokens")
    top_bigram_frac = F.coalesce(F.col("top_bigram"), F.lit(0)).cast(
        "double"
    ) / F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1))
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return (
        tok_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            distinct_ratio.alias("distinct_ratio"),
            top_token_frac.alias("top_token_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            F.when(
                (top_token_frac > 0.20)
                | (top_bigram_frac > 0.15)
                | (distinct_ratio < 0.30),
                1,
            )
            .otherwise(0)
            .alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Data-mixture rebalancing: per (source, lang) corpus shares and the
# resampling weight that would flatten the mixture to uniform-over-groups
# — the knob a pre-training pipeline turns to hit a target domain mix.
# One hash aggregate + a broadcast of the single-row totals; map-only
# after the groupBy, deterministic (every double is one division of
# exact integer counts).
# --------------------------------------------------------------------------
@_register(
    "source_mixture_weights",
    """
    WITH g AS (
      SELECT source, lang,
             COUNT(*) AS n_docs,
             SUM(n_chars) AS n_chars_total
      FROM documents
      GROUP BY source, lang
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(n_chars_total) AS BIGINT) AS total_chars,
             COUNT(*) AS n_groups
      FROM g
    )
    SELECT g.source, g.lang,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.n_chars_total AS BIGINT) AS n_chars_total,
           CAST(g.n_docs AS DOUBLE) / t.total_docs AS doc_share,
           CAST(g.n_chars_total AS DOUBLE) / t.total_chars AS char_share,
           (1.0 / t.n_groups) / (CAST(g.n_docs AS DOUBLE) / t.total_docs)
             AS uniform_weight
    FROM g, tot t
    ORDER BY source, lang
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # g feeds the corpus totals AND the weight join — materialize so the
    # documents aggregate runs once
    g = materialize(
        docs.groupBy("source", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )
    tot = g.groupBy().agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("n_chars_total").alias("total_chars"),
        F.count("*").alias("n_groups"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars_total",
            (F.col("n_docs").cast("double") / F.col("total_docs")).alias(
                "doc_share"
            ),
            (
                F.col("n_chars_total").cast("double") / F.col("total_chars")
            ).alias("char_share"),
            (
                (F.lit(1.0) / F.col("n_groups"))
                / (F.col("n_docs").cast("double") / F.col("total_docs"))
            ).alias("uniform_weight"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# TF-IDF top-terms per document — the classic sparse-feature extraction
# step (keyword extraction / relevance weighting) an LLM-data pipeline
# runs before clustering or retrieval indexing.
#
# Determinism: the IDF factor is the integer pseudo-IDF
# ``(N * 1000) div df`` (monotone in the real ln(N/df)), so the score
# ``tf * idf_milli`` is an exact BIGINT both engines compute identically —
# no libm log in the compare path.
#
# Physical shape: posexplode → (doc_id, tok) partial-aggregated count
# (shuffle #1, carries counts) → per-token document frequency
# (shuffle #2, carries (tok, df) pairs only) → broadcast the one-row
# corpus count → rank window per doc_id. The df join key is the token;
# stopword skew is bounded because both sides are post-aggregation
# (one row per (doc, tok) / per tok), never raw occurrences.
# --------------------------------------------------------------------------
@_register(
    "tfidf_top5_per_doc",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             tf.tf * ((n.n_docs * 1000) // df.df) AS score_milli
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, score_milli, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score_milli DESC, tok) AS rnk
      FROM scored)
    WHERE rnk <= 5
    ORDER BY doc_id, rnk
    """,
)
def tfidf_top5_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _token_rows(docs).select("doc_id", "tok")
    # tf is read twice (df derivation + the scoring join) — materialize so
    # the tokenize+shuffle runs once. df comes from tf, NOT from raw toks:
    # tf already has one row per (doc, tok), so COUNT(*) per tok IS the
    # document frequency, and the second shuffle carries the aggregated
    # frame instead of re-exploding every token occurrence.
    tf = materialize(
        toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .join(F.broadcast(n))
        .withColumn(
            "score_milli",
            F.col("tf") * ((F.col("n_docs") * 1000) / F.col("df")).cast("bigint"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_milli"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "tok", "tf", "df", "score_milli", "rnk")
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Per-language quality-percentile gate — "keep documents at or above the
# language's P25 quality score": the percentile-threshold spelling of
# quality filtering (absolute thresholds drift across languages; a
# per-stratum percentile self-calibrates).
#
# Determinism: the score is an exact BIGINT (10×chars + 1000×stopword
# ratio numerator over words, all integer math); the per-lang P25 is the
# interpolated percentile over those ints — the same
# lower + frac*(higher-lower) both engines evaluate bit-identically on
# exactly-representable values (same contract as value_percentiles_by_type).
#
# Physical shape: one map-only scoring pass, one per-lang percentile
# aggregate (tiny: one row per language), broadcast the thresholds back,
# map-only filter. No data-sized shuffle: the only wide op carries scored
# (lang, score) pairs into a bounded-cardinality aggregate.
# --------------------------------------------------------------------------
@_register(
    "quality_percentile_gate",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             LENGTH(text) * 10
             + (LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                     t -> t IN ('the', 'a', 'of', 'and'))) * 1000)
               // LEN(STRING_SPLIT(text, ' ')) AS score_fp
      FROM documents
    ),
    thresholds AS (
      SELECT lang, quantile_cont(score_fp, 0.25) AS p25 FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.score_fp, t.p25
    FROM scored s JOIN thresholds t USING (lang)
    WHERE s.score_fp >= t.p25
    ORDER BY s.doc_id
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    stop_hits = F.size(
        F.filter(
            F.split(F.lower("text"), " "),
            lambda t: t.isin("the", "a", "of", "and"),
        )
    )
    score = (
        F.length("text") * 10
        + F.floor((stop_hits * 1000) / n_words).cast("bigint")
    )

    # scored feeds both the threshold aggregate and the gate join —
    # materialize so the text scoring pass runs once, not twice
    scored = materialize(
        docs.select("doc_id", "lang", score.alias("score_fp"))
    )
    thresholds = scored.groupBy("lang").agg(
        F.percentile("score_fp", 0.25).alias("p25")
    )
    return (
        scored.join(F.broadcast(thresholds), "lang")
        .filter(F.col("score_fp") >= F.col("p25"))
        .select("doc_id", "lang", "score_fp", "p25")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Document length histogram — fixed-width 64-char buckets with per-bucket
# token stats: the length-distribution audit run before choosing
# truncation / packing parameters. Integer-division bucketing (not
# floor(log2(...))) keeps the bucket id exact in both engines.
# Map-only scoring + one bounded aggregate.
# --------------------------------------------------------------------------
@_register(
    "doc_length_histogram",
    """
    WITH b AS (
      SELECT LENGTH(text) // 64 AS bucket_64,
             LENGTH(text) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> t <> ''))
               AS n_toks
      FROM documents
    )
    SELECT bucket_64,
           COUNT(*) AS n_docs,
           MIN(n) AS min_chars,
           MAX(n) AS max_chars,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM b
    GROUP BY bucket_64
    ORDER BY bucket_64
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    )
    b = docs.select(
        F.floor(n / 64).cast("bigint").alias("bucket_64"),
        n.alias("n"),
        n_toks.alias("n_toks"),
    )
    return (
        b.groupBy("bucket_64")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_chars"),
            F.max("n").alias("max_chars"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
        )
        .orderBy("bucket_64")
    )


# --------------------------------------------------------------------------
# Sequence packing — greedy sequential fill of 2048-token bins per source:
# the pre-training batching step that concatenates documents into
# fixed-token-budget sequences. Deterministic: docs are packed in doc_id
# order within each source; a doc starts the next bin when its tokens
# would not start before the budget boundary (bin id = integer division
# of the PRECEDING cumulative token count).
#
# Physical shape: one map-only token count, one per-source running-sum
# window (partitioned by source — parallel across sources; within a
# source the prefix sum is inherently sequential, which is the packing
# order contract, not a perf bug), map-only bin arithmetic. At 100 TB
# you shard the window key further (source, shard) with per-shard bin
# offsets joined back — same program, noted here for the scale path.
# --------------------------------------------------------------------------
@_register(
    "pack_sequences_by_source",
    """
    WITH counted AS (
      SELECT doc_id, source,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> t <> ''))
               AS n_toks
      FROM documents
    ),
    runs AS (
      SELECT doc_id, source, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks
               AS toks_before
      FROM counted
    )
    SELECT doc_id, source, n_toks,
           CAST(toks_before // 2048 AS BIGINT) AS bin_id,
           CAST(toks_before % 2048 AS BIGINT) AS bin_offset
    FROM runs
    ORDER BY doc_id
    """,
)
def pack_sequences_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("bigint")
    counted = docs.select("doc_id", "source", n_toks.alias("n_toks"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = counted.withColumn(
        "toks_before", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    return runs.select(
        "doc_id",
        "source",
        "n_toks",
        F.floor(F.col("toks_before") / 2048).alias("bin_id"),
        (F.col("toks_before") % 2048).alias("bin_offset"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# PII redaction — the scrubbing pass an LLM training pipeline runs before
# anything else sees the text. The synthetic corpus contains no organic
# PII, so the query deterministically APPENDS PII-shaped tokens derived
# from doc_id (email, phone, IPv4) on BOTH the Spark and oracle sides,
# then redacts them with the same three regex classes — the redaction
# machinery (match, replace-all, count) is exercised on guaranteed hits
# while the whole check stays a pure function of the input table.
#
# Physical shape: map-only (regexp_replace / regexp_extract_all are JVM
# codegen) — embarrassingly parallel, no shuffle, scales linearly.
# Patterns are written in the common Java-regex/RE2 subset so both
# engines match identically (no backrefs, no lookaround).
# --------------------------------------------------------------------------
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_PHONE = "[+][0-9][0-9-]{7,}[0-9]"
_PII_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

_PII_ORACLE = """
    WITH seeded AS (
      SELECT doc_id, lang,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) AS text
      FROM documents
    ),
    counted AS (
      SELECT doc_id, lang, text,
             len(regexp_extract_all(text, '{email}')) AS n_emails,
             len(regexp_extract_all(text, '{phone}')) AS n_phones,
             len(regexp_extract_all(text, '{ip}')) AS n_ips
      FROM seeded
    )
    SELECT doc_id, lang, n_emails, n_phones, n_ips,
           LENGTH(redacted) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM (
      SELECT *,
             regexp_replace(regexp_replace(regexp_replace(text,
               '{email}', '<EMAIL>', 'g'),
               '{ip}', '<IP>', 'g'),
               '{phone}', '<PHONE>', 'g') AS redacted
      FROM counted)
    ORDER BY doc_id
""".format(email=_PII_EMAIL, phone=_PII_PHONE, ip=_PII_IP)


@_register("pii_redact_documents", _PII_ORACLE)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.floor(F.col("doc_id") / 7) % 256).cast("string"),
    )
    d = docs.select("doc_id", "lang", seeded.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IP), F.lit(0))).alias(
            "n_ips"
        ),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Token diversity (Gini–Simpson) — an exact-integer replacement for the
# Shannon-entropy quality signal (log2 is engine-rounding-dependent; the
# Simpson index is a rational number computed entirely in bigints, so the
# same analytic "how repetitive is this doc" signal hashes identically).
# D = 1 - sum_i n_i(n_i-1) / (N(N-1)); high D = diverse vocabulary,
# low D = degenerate/repetitive doc (a standard pre-training filter).
#
# Physical shape: one explode + hash aggregate on (doc_id, token) —
# partial aggregation map-side, the shuffle carries (doc_id, token,
# count), then a per-doc combine. Same shape as token counting; scales.
# --------------------------------------------------------------------------
@_register(
    "token_diversity_gini",
    """
    WITH toks AS (
      SELECT doc_id, unnest(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                        t -> t <> '')) AS token
      FROM documents
    ),
    counts AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_toks,
           COUNT(*) AS n_distinct,
           CAST(SUM(c * (c - 1)) AS BIGINT) AS rep_num,
           CAST(SUM(c) * (SUM(c) - 1) AS BIGINT) AS rep_den,
           1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
               / (CAST(SUM(c) AS DOUBLE) * (CAST(SUM(c) AS DOUBLE) - 1))
             AS gini_diversity
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def token_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("token"),
    )
    counts = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("bigint")
    num = F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint")
    return (
        counts.groupBy("doc_id")
        .agg(
            n.alias("n_toks"),
            F.count("*").alias("n_distinct"),
            num.alias("rep_num"),
            (n * (n - F.lit(1))).cast("bigint").alias("rep_den"),
            (
                F.lit(1.0)
                - num.cast("double")
                / (n.cast("double") * (n.cast("double") - F.lit(1.0)))
            ).alias("gini_diversity"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Bigram coverage — an exact-integer stand-in for LM-perplexity quality
# filtering: score each document by how much of its token-bigram mass is
# covered by the corpus's common-bigram "language model" (the top-100
# corpus bigrams). Real pipelines run a KenLM/transformer scorer here;
# the Spark shape is identical — build the reference model with one
# aggregation, broadcast it, score map-side — and the rational
# covered/total score is exactly reproducible cross-engine where a
# log-prob would not be.
# Physical shape: bigram explode + count (one shuffle), top-100 by
# (count, bigram) total order, broadcast semi-join back, per-doc
# aggregate. The model frame is O(vocab²)-bounded and tiny.
# --------------------------------------------------------------------------
@_register(
    "bigram_coverage_score",
    """
    WITH toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                 t -> t <> '') AS ts
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                            i -> ts[i] || ' ' || ts[i + 1])) AS bg
      FROM toks
    ),
    model AS (
      SELECT bg FROM (
        SELECT bg, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bg) AS rnk
        FROM bigrams GROUP BY bg)
      WHERE rnk <= 100
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN m.bg IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS covered,
           CAST(SUM(CASE WHEN m.bg IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM bigrams b LEFT JOIN model m ON m.bg = b.bg
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def bigram_coverage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    toks = docs.select("doc_id", ts.alias("ts"))
    bigrams = materialize(
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ts"), i),
                        F.element_at(F.col("ts"), i + F.lit(1)),
                    ),
                )
            ).alias("bg"),
        ).filter(F.size("ts") >= 2)
    )
    # top-100 via orderBy+limit, NOT a global row_number window: Spark
    # plans this as TakeOrderedAndProject (per-partition partial top-k,
    # then a 100-row merge on the driver) — safe at any bigram-vocab size
    model = (
        bigrams.groupBy("bg")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("bg"))
        .limit(100)
        .select("bg", F.lit(1).alias("_in_model"))
    )
    covered = F.sum(
        F.when(F.col("_in_model").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return (
        bigrams.join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            covered.alias("covered"),
            (covered.cast("double") / F.count("*")).alias("coverage"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# DSIR-style data selection with importance resampling (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling",
# arXiv:2302.03169): score every raw document by how much its hashed
# n-gram distribution looks like a TARGET domain (here: the English
# slice) relative to the raw pool. DSIR's estimator is a ratio of two
# hashed-bigram unigram models; the classic formulation sums log
# p_tgt/p_src per gram — here the ratio rides as exact integer
# fixed-point ((tgt+1)·(S+B)·10⁴) div ((src+1)·(T+B)) per occurrence
# (Laplace-smoothed, B = bucket count) so both engines agree
# bit-for-bit where a float log-sum would not. mean_w ≥ 10⁴ ⇔ the doc
# is more target-like than the pool average — the resampling keep set.
#
# Scale: one bigram explode feeds (a) the 256-bucket model aggregate
# (map-side combined, output is 256 rows → broadcast) and (b) the
# per-doc scoring aggregate — the canonical build-model/broadcast/score
# shape. Shuffles carry (doc_id, bucket) pairs and the 256-row model,
# never text. The i64 fixed-point headroom holds to ~10¹⁴ corpus
# bigrams; past that, swap the weight column to DECIMAL(38,0) (same
# plan) or score in log-space with a documented tolerance.
# --------------------------------------------------------------------------
_DSIR_BUCKETS = 256


@_register(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                       t -> t <> '') AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(unnest(list_transform(range(1, len(ts)),
                      i -> ts[i] || ' ' || ts[i + 1]))), 1, 8))::BIGINT
               % {_DSIR_BUCKETS} AS bucket
      FROM toks
    ),
    model AS (
      SELECT bucket, COUNT(*) AS src_cnt,
             COUNT(*) FILTER (WHERE lang = 'en') AS tgt_cnt
      FROM grams GROUP BY bucket
    ),
    tot AS (
      SELECT SUM(src_cnt) AS s_tot, SUM(tgt_cnt) AS t_tot FROM model
    ),
    scored AS (
      SELECT g.doc_id, ANY_VALUE(g.lang) AS lang,
             COUNT(*) AS n_bigrams,
             CAST(SUM(((m.tgt_cnt + 1) * (t.s_tot + {_DSIR_BUCKETS}) * 10000)
                      // ((m.src_cnt + 1) * (t.t_tot + {_DSIR_BUCKETS})))
                  // COUNT(*) AS BIGINT) AS mean_w_m
      FROM grams g JOIN model m ON m.bucket = g.bucket CROSS JOIN tot t
      GROUP BY g.doc_id
    )
    SELECT doc_id, lang, n_bigrams, mean_w_m,
           mean_w_m >= 10000 AS selected
    FROM scored
    ORDER BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    toks = docs.select("doc_id", "lang", ts.alias("ts"))
    bucket = (
        F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )
    # grams feeds both the bucket model and the per-doc scorer —
    # materialize the exploded frame once (same trade unigram_rarity
    # makes; at 100 TB swap for an intermediate table or recompute).
    grams = materialize(
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ts"), i),
                        F.element_at(F.col("ts"), i + F.lit(1)),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", bucket.alias("bucket"))
    )
    model = grams.groupBy("bucket").agg(
        F.count("*").alias("src_cnt"),
        F.count_if(F.col("lang") == "en").alias("tgt_cnt"),
    )
    tot = model.agg(
        F.sum("src_cnt").alias("s_tot"), F.sum("tgt_cnt").alias("t_tot")
    )
    w = F.expr(
        f"((tgt_cnt + 1) * (s_tot + {_DSIR_BUCKETS}) * 10000)"
        f" div ((src_cnt + 1) * (t_tot + {_DSIR_BUCKETS}))"
    )
    scored = (
        grams.join(F.broadcast(model), "bucket")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count("*").alias("n_bigrams"),
            F.expr(
                f"CAST(SUM(((tgt_cnt + 1) * (s_tot + {_DSIR_BUCKETS}) * 10000)"
                f" div ((src_cnt + 1) * (t_tot + {_DSIR_BUCKETS})))"
                f" div COUNT(*) AS BIGINT)"
            ).alias("mean_w_m"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "mean_w_m",
        (F.col("mean_w_m") >= 10000).alias("selected"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Collocation extraction: top-20 adjacent bigrams ranked by lift
# (PMI without the log — same ordering, but exact integer math instead
# of cross-engine libm). lift = P(xy) / (P(x)P(y)) rendered in staged
# fixed-point: ((c_xy * 1e6) div c_x) * n_uni div (c_y * n_bi). Both
# engines evaluate the IDENTICAL staging order, so the floor divisions
# agree bit-for-bit; every intermediate fits in int64 at any realistic
# corpus scale (c_xy*1e6 <= 1e6*c_x keeps stage one <= 1e6^2).
#
# Scale: bigrams are a map-only array transform per document (no
# pos-self-join); unigram and bigram counts are hash aggregates whose
# shuffles carry (token, count) pairs; the two count frames join on the
# bigram's words — the unigram model is vocabulary-sized and broadcast.
# Min-support c_xy >= 5 bounds the ranked set; top-20 is one ORDER BY
# over the model-sized frame, never over raw tokens.
# --------------------------------------------------------------------------
@_register(
    "pmi_bigram_collocations",
    """
    WITH toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                 t -> t <> '') AS ts
      FROM documents
    ),
    uni AS (
      SELECT unnest(ts) AS tok FROM toks
    ),
    ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    utot AS (SELECT SUM(c) AS n_uni FROM ucnt),
    bi AS (
      SELECT unnest(list_transform(range(1, len(ts)),
                    i -> ts[i] || ' ' || ts[i + 1])) AS bg
      FROM toks
    ),
    bcnt AS (SELECT bg, COUNT(*) AS c_xy FROM bi GROUP BY bg
             HAVING COUNT(*) >= 5),
    btot AS (SELECT COUNT(*) AS n_bi FROM bi),
    scored AS (
      SELECT string_split(b.bg, ' ')[1] AS w1,
             string_split(b.bg, ' ')[2] AS w2,
             b.c_xy, u1.c AS c_x, u2.c AS c_y,
             CAST(((b.c_xy * 1000000) // u1.c) * t.n_uni
                  // (u2.c * bt.n_bi) AS BIGINT) AS lift_ppm
      FROM bcnt b
      JOIN ucnt u1 ON u1.tok = string_split(b.bg, ' ')[1]
      JOIN ucnt u2 ON u2.tok = string_split(b.bg, ' ')[2]
      CROSS JOIN utot t CROSS JOIN btot bt
    )
    SELECT w1, w2, c_xy, c_x, c_y, lift_ppm
    FROM scored
    ORDER BY lift_ppm DESC, w1, w2 LIMIT 20
    """,
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations by integer-exact lift
    (monotone in PMI). Reference has no text analytics; this extends the
    B27 family with the classic collocation-mining shape."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    toks = materialize(docs.select(ts.alias("ts")))  # uni + bi read it
    uni = toks.select(F.explode("ts").alias("tok"))
    ucnt = materialize(uni.groupBy("tok").agg(F.count("*").alias("c")))
    utot = ucnt.agg(F.sum("c").alias("n_uni"))
    bi = materialize(
        toks.filter(F.size("ts") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ts"), i),
                        F.element_at(F.col("ts"), i + F.lit(1)),
                    ),
                )
            ).alias("bg")
        )
    )
    bcnt = (
        bi.groupBy("bg")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
    )
    btot = bi.agg(F.count("*").alias("n_bi"))
    scored = (
        bcnt.join(
            F.broadcast(ucnt.select(F.col("tok").alias("w1"),
                                    F.col("c").alias("c_x"))), "w1")
        .join(
            F.broadcast(ucnt.select(F.col("tok").alias("w2"),
                                    F.col("c").alias("c_y"))), "w2")
        .join(F.broadcast(utot))
        .join(F.broadcast(btot))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr(
                "CAST(((c_xy * 1000000) div c_x) * n_uni"
                " div (c_y * n_bi) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(20)


# --------------------------------------------------------------------------
# Lexical diversity: type-token ratio per source — distinct token types
# over total tokens, in exact ppm. A low-TTR source is boilerplate-heavy
# and a prime down-weighting candidate in a data-mixture.
#
# Scale: one (source, token) hash aggregate (map-side partial collapses
# repeats before the shuffle), then a source-grain count — shuffles carry
# distinct pairs, never raw tokens.
# --------------------------------------------------------------------------
@_register(
    "ttr_by_source",
    """
    WITH toks AS (
      SELECT source, unnest(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    pairs AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm
    FROM pairs
    GROUP BY source
    ORDER BY source
    """,
)
def ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document source in exact ppm."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    pairs = (
        docs.select("source", F.explode(ts).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        pairs.groupBy("source")
        .agg(
            F.sum("c").alias("total_tokens"),
            F.count("*").alias("distinct_tokens"),
            F.expr(
                "CAST(COUNT(*) * 1000000 div SUM(c) AS BIGINT)"
            ).alias("ttr_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Duplicate-rate report per source: share of documents whose exact text
# hash occurs more than once ANYWHERE in the corpus — the per-source
# health metric a curation dashboard tracks over time.
#
# Scale: fp counts are a hash aggregate on md5 (16 bytes/row on the
# shuffle); the docs-side join carries (fp, source) only. The fp-count
# frame is corpus-sized, so it stays a shuffle join (correct: both sides
# partition on fp); the final aggregate is source-grain.
# --------------------------------------------------------------------------
@_register(
    "dup_rate_by_source",
    """
    WITH fps AS (SELECT source, MD5(text) AS fp FROM documents),
    cnt AS (SELECT fp, COUNT(*) AS n FROM fps GROUP BY fp)
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE c.n > 1) AS BIGINT) AS n_dup_docs,
           CAST(COUNT(*) FILTER (WHERE c.n > 1) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM fps f JOIN cnt c ON c.fp = f.fp
    GROUP BY f.source
    ORDER BY f.source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate share per source (corpus-wide hash collisions)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = materialize(
        docs.select("source", F.md5("text").alias("fp"))
    )  # read by both the count model and the join probe
    cnt = fps.groupBy("fp").agg(F.count("*").alias("n"))
    return (
        fps.join(cnt, "fp")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("n") > 1).alias("n_dup_docs"),
            F.expr(
                "CAST(COUNT_IF(n > 1) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Inverted-index build: posting lists (sorted doc_ids) for the 5 rarest
# tokens by document frequency — the retrieval-side artifact a BM25
# engine serves for its long-tail terms. On a real corpus the rare band
# is an absolute df cap (posting lists O(cap)); the driver's synthetic
# vocabulary is closed (~31 tokens, min df scales with the corpus), so
# the query takes the bottom-5 by (df, token) instead — still a bounded,
# deterministic slice at every scale factor.
#
# Scale: (token, doc_id)-distinct aggregate (map-side partial collapses
# within-doc repeats), then a token-grain sorted collect. The rank step
# runs over the vocabulary-sized df frame, not raw tokens; only the 5
# surviving groups ever materialize a list.
# --------------------------------------------------------------------------
@_register(
    "inverted_index_postings",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    dfs AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
      FROM toks GROUP BY tok
    )
    SELECT tok, df, postings
    FROM (SELECT * FROM dfs ORDER BY df, tok LIMIT 5)
    ORDER BY tok
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists for the 5 rarest tokens by document frequency."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    toks = (
        docs.select("doc_id", F.explode(ts).alias("tok"))
        .distinct()
    )
    dfs = toks.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return (
        dfs.orderBy(F.asc("df"), F.asc("tok"))
        .limit(5)
        .select("tok", "df", "postings")
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# LLM-pipeline — Count-Min sketch (Cormode & Muthukrishnan, 2005) over
# corpus tokens, audited against the exact counts of the top-20 tokens.
# Emits per-token exact count, CM estimate, error, and the one-sided
# guarantee verdict (CM never underestimates) — the cheap streaming
# counter a pipeline uses when exact token counts stop fitting anywhere.
#
# Scale: the sketch is a FIXED 2x128-cell table produced by a partial
# (map-side-combined) aggregate — the shuffle carries at most 256 rows
# per partition regardless of corpus size; the candidate probe joins 20
# rows against the 256-cell table (broadcast). Hashes are salted md5s
# DuckDB replays bit-for-bit.
# --------------------------------------------------------------------------
_CM_W = 128  # buckets per hash row
_CM_SALTS = ("cm0:", "cm1:")

# The ONE Count-Min hash recipe — shared verbatim by the streaming twin
# (streaming/windows.py stream_countmin_users), which imports these
# symbols so the "same 2x128 sketch" claim is structural, not a comment.
# {key} may be any type; the VARCHAR cast is a no-op on strings.
_DUCK_CM_BUCKET = (
    "CAST(('0x' || substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % " + str(_CM_W)
)


def _cm_bucket_col(salt: str, key) -> F.Column:
    """Spark twin of ``_DUCK_CM_BUCKET`` (salted md5 → [0, _CM_W))."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _CM_W
    )


@_register(
    "countmin_heavy_hitters",
    f"""
    WITH occ AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    cells AS (
      SELECT r, b, COUNT(*) AS c FROM (
        SELECT 0 AS r, {_DUCK_CM_BUCKET.format(salt=_CM_SALTS[0], key='tok')} AS b FROM occ
        UNION ALL
        SELECT 1 AS r, {_DUCK_CM_BUCKET.format(salt=_CM_SALTS[1], key='tok')} AS b FROM occ)
      GROUP BY r, b
    ),
    cand AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM occ GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT 20
    )
    SELECT c.tok, c.exact_cnt,
           CAST(LEAST(c0.c, c1.c) AS BIGINT) AS cm_est,
           CAST(LEAST(c0.c, c1.c) - c.exact_cnt AS BIGINT) AS est_err,
           LEAST(c0.c, c1.c) >= c.exact_cnt AS overestimate_ok
    FROM cand c
    JOIN cells c0 ON c0.r = 0
     AND c0.b = {_DUCK_CM_BUCKET.format(salt=_CM_SALTS[0], key='c.tok')}
    JOIN cells c1 ON c1.r = 1
     AND c1.b = {_DUCK_CM_BUCKET.format(salt=_CM_SALTS[1], key='c.tok')}
    ORDER BY tok
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 exact token counts audited against a 2x128 Count-Min sketch."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )

    _bucket = _cm_bucket_col

    # one scan: each occurrence contributes to one cell per hash row
    cells = (
        occ.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("r"),
                        _bucket(_CM_SALTS[0], F.col("tok")).alias("b"),
                    ),
                    F.struct(
                        F.lit(1).alias("r"),
                        _bucket(_CM_SALTS[1], F.col("tok")).alias("b"),
                    ),
                )
            ).alias("cell")
        )
        .groupBy("cell.r", "cell.b")
        .agg(F.count("*").alias("c"))
    )
    cand = (
        occ.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(20)
        .withColumn("b0", _bucket(_CM_SALTS[0], F.col("tok")))
        .withColumn("b1", _bucket(_CM_SALTS[1], F.col("tok")))
    )
    c0 = cells.filter(F.col("r") == 0).select(
        F.col("b").alias("b0"), F.col("c").alias("c0")
    )
    c1 = cells.filter(F.col("r") == 1).select(
        F.col("b").alias("b1"), F.col("c").alias("c1")
    )
    est = F.least(F.col("c0"), F.col("c1"))
    return (
        cand.join(F.broadcast(c0), "b0")
        .join(F.broadcast(c1), "b1")
        .select(
            "tok",
            "exact_cnt",
            est.cast("bigint").alias("cm_est"),
            (est - F.col("exact_cnt")).cast("bigint").alias("est_err"),
            (est >= F.col("exact_cnt")).alias("overestimate_ok"),
        )
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# LLM-pipeline — k-anonymity audit over quasi-identifiers (lang, source,
# length bucket): the release-governance gate run before publishing a
# curated corpus. Reports, per (lang, source) slice, how many docs sit in
# equivalence classes smaller than k=5 — those rows are re-identifiable
# from the quasi-identifiers alone (Sweeney, 2002).
#
# Scale: two stacked hash aggregates (class size, then slice summary);
# the shuffle key is the quasi-identifier tuple — bounded cardinality,
# map-side combined, no row-level data movement after the first agg.
# --------------------------------------------------------------------------
_K_ANON = 5
_QI_BUCKET = 500  # n_chars equivalence-class width


@_register(
    "k_anonymity_audit",
    f"""
    WITH classes AS (
      SELECT lang, source, n_chars // {_QI_BUCKET} AS len_bucket,
             COUNT(*) AS class_n
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN class_n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS small_classes,
           CAST(SUM(CASE WHEN class_n < {_K_ANON} THEN class_n ELSE 0 END)
             AS BIGINT) AS exposed_docs,
           SUM(CASE WHEN class_n < {_K_ANON} THEN 1 ELSE 0 END) = 0
             AS k_anonymous
    FROM classes
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): equivalence classes under k=5 and exposed rows."""
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {_QI_BUCKET}").alias("len_bucket"),
    ).agg(F.count("*").alias("class_n"))
    small = F.when(F.col("class_n") < _K_ANON, 1).otherwise(0)
    return (
        classes.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("class_n").cast("bigint").alias("n_docs"),
            F.sum(small).cast("bigint").alias("small_classes"),
            F.sum(
                F.when(F.col("class_n") < _K_ANON, F.col("class_n")).otherwise(0)
            )
            .cast("bigint")
            .alias("exposed_docs"),
            (F.sum(small) == 0).alias("k_anonymous"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# LLM-pipeline — tokenizer-vocabulary coverage audit: build a top-16
# vocabulary from the md5-split 'a' half of the corpus, then measure the
# out-of-vocabulary occurrence rate of the held-out 'b' half per
# language — the pre-training check that a tokenizer/vocab trained on
# one slice covers the rest (OOV spikes flag domain drift).
#
# Scale: vocab is a top-k over the token aggregate (tiny, broadcast);
# the held-out side joins map-side against it; per-lang rates are one
# partial-aggregated groupBy. Split assignment is the same md5-bucket
# rule as dataset_split_assign — append-stable, no RNG.
# --------------------------------------------------------------------------
_VOCAB_K = 16

# Built from the SAME bucket rule as dataset_split_assign (_BUCKET_SQL /
# _bucket_col) so the train/held-out boundary is structurally shared.
_DUCK_DOC_HALF = f"CASE WHEN {_BUCKET_SQL} < 50 THEN 'a' ELSE 'b' END"


@_register(
    "vocab_oov_audit",
    f"""
    WITH halves AS (
      SELECT doc_id, lang, {_DUCK_DOC_HALF} AS half,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM halves WHERE half = 'a'
        GROUP BY tok ORDER BY cnt DESC, tok LIMIT {_VOCAB_K})
    )
    SELECT h.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(10000 * SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS oov_rate_bps
    FROM halves h LEFT JOIN vocab v ON h.tok = v.tok
    WHERE h.half = 'b'
    GROUP BY h.lang
    ORDER BY h.lang
    """,
)
def vocab_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang OOV rate of the held-out half vs a top-16 trained vocab."""
    docs = load_table(spark, sf_dir, "documents")
    half = F.when(_bucket_col() < 50, "a").otherwise("b")
    toks = docs.select(
        "lang",
        half.alias("half"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    vocab = (
        toks.filter(F.col("half") == "a")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok")
        .withColumn("in_vocab", F.lit(1))
    )
    held = toks.filter(F.col("half") == "b").join(
        F.broadcast(vocab), "tok", "left"
    )
    oov_i = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        held.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(oov_i).cast("bigint").alias("oov_tokens"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)"
                " div COUNT(*) AS BIGINT)"
            ).alias("oov_rate_bps"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# BPE tokenizer TRAINING (merge-rule discovery) in pure relational
# algebra — 3 unrolled merge rounds of the classic Sennrich et al. 2016
# procedure over the corpus vocabulary:
#
#   1. vocab = (word, freq) — the ONLY corpus-sized aggregate; training
#      itself runs on the vocabulary with frequencies, exactly like
#      production BPE trainers;
#   2. each word becomes a boundary-fenced symbol string: symbols are
#      separated by DOUBLE pipes and the whole string is wrapped in
#      single pipes ("the" → "|t||h||e|"). The fencing is what makes
#      merge application a plain literal replace that CANNOT cross
#      symbol boundaries: replacing '|a||b|' with '|ab|' consumes one
#      pipe from each side (the neighbor keeps its own), and a pattern
#      anchored on single-pipe-then-symbol can never match a SUFFIX of
#      a longer symbol (a symbol's interior contains no pipes, its
#      edges carry two) — e.g. merging (r, k) leaves '|ar||k|' alone;
#   3. per round: count adjacent symbol pairs weighted by word freq
#      (one hash aggregate over Σ word lengths), pick the max-count pair
#      (deterministic tie-break: count DESC, then both symbols ASC —
#      orderBy+limit(1), planned as TakeOrderedAndProject, never a
#      global window), and APPLY the merge as the fenced literal
#      replace — both engines replace left-to-right over
#      non-overlapping occurrences, which IS greedy BPE application;
#   4. the discovered merge table (round, pair, count) is the output —
#      the artifact a tokenizer ships.
#
# Scale: after the initial word count, every frame is vocabulary-sized
# (≪ corpus); the selected merge is a 1-row broadcast; merge application
# is map-only over the vocab. Rounds are unrolled (fixed 3), the same
# driver-side pattern as the PageRank / k-means / perceptron loops.
# --------------------------------------------------------------------------
_BPE_ROUNDS = 3

# symbols of a fenced sym string: strip the outer fence, split on the
# double-pipe separator
_BPE_PAIRS_SQL = """(
      SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt FROM (
        SELECT string_split(trim(sym, '|'), '||') AS s, freq FROM {src}),
        unnest(range(1, len(s))) AS u(i)
      GROUP BY 1, 2
    )"""

# vocab CTEs shared by the train and encode oracles: per-(source, word)
# counts, then the global (word, freq, sym) frame training runs on.
_BPE_VOCAB_SQL = r"""
    toks AS (
      -- tokens containing a literal '|' are excluded: '|' is the fence
      -- delimiter, so an in-token pipe would read as a symbol boundary
      -- and let merges cross intended symbol edges (mirrored Spark-side
      -- in _bpe_vocab_frames)
      SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '' AND NOT contains(t, '|')))
               AS tok
      FROM documents
    ),
    wsrc AS (
      SELECT source, tok, COUNT(*) AS freq FROM toks GROUP BY source, tok
    ),
    w0 AS (
      SELECT tok, SUM(freq) AS freq,
             '|' || rtrim(regexp_replace(tok, '(.)', '\1||', 'g'), '|')
                 || '|' AS sym
      FROM wsrc GROUP BY tok
    )"""


def _bpe_round_ctes() -> str:
    """CTEs p0/t1/w1 … t{R}/w{R}: pair counts, winning merge, application
    (w{R} — the fully merged vocab — is emitted for the encode oracle)."""
    ctes = ""
    for r in range(1, _BPE_ROUNDS + 1):
        ctes += f""",
    p{r - 1} AS {_BPE_PAIRS_SQL.format(src=f'w{r - 1}')},
    t{r} AS (SELECT a, b, cnt FROM p{r - 1} ORDER BY cnt DESC, a, b LIMIT 1),
    w{r} AS (
      SELECT tok, freq,
             replace(sym, '|' || t{r}.a || '||' || t{r}.b || '|',
                     '|' || t{r}.a || t{r}.b || '|') AS sym
      FROM w{r - 1}, t{r}
    )"""
    return ctes


def _bpe_train_oracle() -> str:
    sel = [
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    return (
        "\n    WITH "
        + _BPE_VOCAB_SQL
        + _bpe_round_ctes()
        + "\n    "
        + "\n    UNION ALL ".join(sel)
        + "\n    ORDER BY round\n"
    )


def _bpe_encode_oracle() -> str:
    return (
        "\n    WITH "
        + _BPE_VOCAB_SQL
        + _bpe_round_ctes()
        + f""",
    enc AS (
      SELECT tok, len(string_split(trim(sym, '|'), '||')) AS n_sym,
             length(replace(sym, '|', '')) AS n_char
      FROM w{_BPE_ROUNDS}
    )
    SELECT wsrc.source,
           CAST(SUM(wsrc.freq) AS BIGINT) AS n_words,
           CAST(SUM(wsrc.freq * enc.n_char) AS BIGINT) AS n_chars,
           CAST(SUM(wsrc.freq * enc.n_sym) AS BIGINT) AS n_bpe_symbols,
           CAST(SUM(wsrc.freq * enc.n_sym) * 10000
                // SUM(wsrc.freq * enc.n_char) AS BIGINT)
             AS symbols_per_char_bps
    FROM wsrc JOIN enc ON enc.tok = wsrc.tok
    GROUP BY wsrc.source
    ORDER BY wsrc.source
    """
    )


def _bpe_vocab_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(wsrc, vocab): per-(source, word) counts and the global
    (tok, freq, sym) training vocabulary, both materialized."""
    docs = load_table(spark, sf_dir, "documents")
    wsrc = materialize(
        docs.select(
            "source",
            F.explode(
                # drop empty tokens AND tokens containing the '|' fence
                # delimiter (an in-token pipe would read as a symbol
                # boundary — mirrored in the oracle's toks CTE)
                F.filter(
                    F.split(F.lower("text"), " "),
                    lambda t: (t != "") & (~t.contains("|")),
                )
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("freq"))
    )
    vocab = materialize(
        wsrc.groupBy("tok")
        .agg(F.sum("freq").alias("freq"))
        .select(
            "tok",
            "freq",
            F.concat(
                F.lit("|"),
                F.rtrim(
                    F.regexp_replace(F.col("tok"), "(.)", "$1||"),
                    F.lit("|"),
                ),
                F.lit("|"),
            ).alias("sym"),
        )
    )
    return wsrc, vocab


def _bpe_rounds(
    vocab: DataFrame,
    n_rounds: int | None = None,
    apply_last: bool = True,
) -> tuple[list[DataFrame], DataFrame]:
    """Run the unrolled merge rounds → ([1-row merge frames], final vocab).

    ``apply_last=False`` skips applying (and materializing) the LAST
    round's merge — callers that only consume the merge table never pay
    for the final vocab rewrite; they get the second-to-last vocab back.
    """
    rounds = _BPE_ROUNDS if n_rounds is None else n_rounds

    def _pairs(w: DataFrame) -> DataFrame:
        s = F.split(F.btrim(F.col("sym"), F.lit("|")), "\\|\\|")
        n = F.size(s)
        zipped = F.zip_with(
            F.slice(s, 1, n - 1),
            F.slice(s, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        return (
            w.select("freq", F.explode(zipped).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )

    merges: list[DataFrame] = []
    words = vocab
    for r in range(1, rounds + 1):
        top = materialize(
            _pairs(words).orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        )
        merges.append(top)
        if r == rounds and not apply_last:
            break
        words = materialize(
            words.join(F.broadcast(top.select("a", "b"))).select(
                "tok",
                "freq",
                F.replace(
                    F.col("sym"),
                    F.concat(
                        F.lit("|"),
                        F.col("a"),
                        F.lit("||"),
                        F.col("b"),
                        F.lit("|"),
                    ),
                    F.concat(F.lit("|"), F.col("a"), F.col("b"), F.lit("|")),
                ).alias("sym"),
            )
        )
    return merges, words


@_register("bpe_merge_rounds", _bpe_train_oracle())
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, vocab = _bpe_vocab_frames(spark, sf_dir)
    merges, _ = _bpe_rounds(vocab, apply_last=False)
    out = None
    for r, top in enumerate(merges, start=1):
        row = top.select(
            F.lit(r).alias("round"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("cnt").cast("bigint").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# ...and the ENCODE half: apply the learned merge table to the corpus
# and measure what the tokenizer buys — per-source word/char/BPE-symbol
# counts and the symbols-per-char ratio (basis points). Corpus text is
# never re-scanned: encoding happens on the VOCABULARY (each word
# carries its per-source frequency), so the corpus-sized work stays the
# one word-count aggregate both halves share.
#
# Scale: the encoded vocab (tok → symbol count) is vocabulary-sized and
# broadcast back onto the per-(source, word) counts; the report is one
# partial-aggregated shuffle on source.
# --------------------------------------------------------------------------
@_register("bpe_encode_compression", _bpe_encode_oracle())
def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    wsrc, vocab = _bpe_vocab_frames(spark, sf_dir)
    _, final_vocab = _bpe_rounds(vocab)
    enc = final_vocab.select(
        "tok",
        F.size(F.split(F.btrim(F.col("sym"), F.lit("|")), "\\|\\|"))
        .cast("bigint")
        .alias("n_sym"),
        F.length(F.replace(F.col("sym"), F.lit("|"), F.lit(""))).cast(
            "bigint"
        ).alias("n_char"),
    )
    return (
        wsrc.join(F.broadcast(enc), "tok")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_char"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("freq") * F.col("n_sym"))
            .cast("bigint")
            .alias("n_bpe_symbols"),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "n_bpe_symbols",
            F.expr(
                "CAST((n_bpe_symbols * 10000) div n_chars AS BIGINT)"
            ).alias("symbols_per_char_bps"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Round 6 — data-mixing weights per source (the Pile/mC4/XLM-R corpus
# mixing step): two standard rebalancing policies computed side by side,
# in arithmetic both engines replay exactly —
#
# * TEMPERATURE τ=0.5: weight ∝ sqrt(n_docs). The isqrt is spelled
#   FLOOR(SQRT(n · 10^6)) on an IEEE double in BOTH engines — sqrt is
#   correctly rounded and n·10^6 stays far under 2^52, so the floor is
#   engine-identical (documented bound: exact for n ≤ ~2^33; a 100 TB
#   deployment with more docs per source than that swaps in an integer
#   Newton isqrt, nothing downstream changes).
# * CAP 10%: n_kept = min(n_docs, total div 10) — the "no source may
#   exceed a tenth of the corpus" guard against a single crawl dump
#   dominating training.
#
# Scale: one groupBy(source) partial aggregate over the corpus, then
# per-source arithmetic against two broadcast scalars (Σ isqrt, Σ kept).
# Nothing else touches the data.
# --------------------------------------------------------------------------
@_register(
    "source_mixing_weights",
    """
    WITH per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    temp AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1000000)) AS BIGINT)
               AS w_sqrt
      FROM per_src
    ),
    tot AS (
      SELECT SUM(w_sqrt) AS sum_sqrt, SUM(n_docs) AS total,
             GREATEST(SUM(n_docs) // 10, 1) AS cap
      FROM temp
    ),
    capped AS (
      SELECT t.source, t.n_docs, t.w_sqrt,
             LEAST(t.n_docs, x.cap) AS n_kept, x.sum_sqrt, x.total
      FROM temp t CROSS JOIN tot x
    ),
    tot2 AS (SELECT SUM(n_kept) AS sum_kept FROM capped)
    SELECT c.source, c.n_docs, c.w_sqrt,
           CAST((c.w_sqrt * 10000) // c.sum_sqrt AS BIGINT)
             AS weight_temp_bps,
           CAST(c.n_kept AS BIGINT) AS n_kept,
           CAST((c.n_kept * 10000) // t2.sum_kept AS BIGINT)
             AS weight_cap_bps
    FROM capped c CROSS JOIN tot2 t2
    ORDER BY source
    """,
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    temp = per_src.withColumn(
        "w_sqrt",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1000000)) AS BIGINT)"
        ),
    )
    tot = temp.agg(
        F.sum("w_sqrt").alias("sum_sqrt"),
        F.sum("n_docs").alias("total"),
        F.greatest(
            F.expr("SUM(n_docs) div 10"), F.lit(1).cast("bigint")
        ).alias("cap"),
    )
    capped = temp.join(F.broadcast(tot)).withColumn(
        "n_kept", F.least(F.col("n_docs"), F.col("cap"))
    )
    tot2 = capped.agg(F.sum("n_kept").alias("sum_kept"))
    return (
        capped.join(F.broadcast(tot2))
        .select(
            "source",
            "n_docs",
            "w_sqrt",
            F.expr("CAST((w_sqrt * 10000) div sum_sqrt AS BIGINT)").alias(
                "weight_temp_bps"
            ),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.expr("CAST((n_kept * 10000) div sum_kept AS BIGINT)").alias(
                "weight_cap_bps"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Round 6 — dataset-card statistics: the numbers a published datasheet
# (Gebru et al., "Datasheets for Datasets") reports for a text corpus,
# as ONE hash-verified (metric, value) frame — corpus size, token and
# char volume, source/language cardinality and concentration, exact-dup
# rate, and length distribution landmarks. Every value is an exact
# integer (shares in bps, means ×100) so the card is reproducible
# bit-for-bit by the oracle.
#
# Scale: one token-count scan (map-side size()), one md5 digest
# aggregate for the dup rate, two small groupBys for concentration —
# all partial-aggregated; no joins wider than a broadcast scalar.
# --------------------------------------------------------------------------
@_register(
    "dataset_card_stats",
    f"""
    WITH per_doc AS (
      SELECT doc_id, source, lang, n_chars,
             len({_TOKS_SQL}) AS n_tok,
             md5(text) AS h
      FROM documents
    ),
    dups AS (
      SELECT CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs
      FROM (SELECT h, COUNT(*) AS cnt FROM per_doc GROUP BY h)
    ),
    src_share AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_src_docs FROM (
        SELECT COUNT(*) AS n FROM per_doc GROUP BY source)
    ),
    lang_share AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_lang_docs FROM (
        SELECT COUNT(*) AS n FROM per_doc GROUP BY lang)
    )
    SELECT metric, value FROM (
      SELECT '01_n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value
        FROM per_doc
      UNION ALL SELECT '02_n_sources', CAST(COUNT(DISTINCT source) AS BIGINT)
        FROM per_doc
      UNION ALL SELECT '03_n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT)
        FROM per_doc
      UNION ALL SELECT '04_total_tokens', CAST(SUM(n_tok) AS BIGINT)
        FROM per_doc
      UNION ALL SELECT '05_total_chars', CAST(SUM(n_chars) AS BIGINT)
        FROM per_doc
      UNION ALL SELECT '06_mean_tokens_x100',
        CAST((SUM(n_tok) * 100) // COUNT(*) AS BIGINT) FROM per_doc
      UNION ALL SELECT '07_max_doc_tokens', CAST(MAX(n_tok) AS BIGINT)
        FROM per_doc
      UNION ALL SELECT '08_exact_dup_docs', n_dup_docs FROM dups
      UNION ALL SELECT '09_top_source_share_bps',
        CAST((s.max_src_docs * 10000) // (SELECT COUNT(*) FROM per_doc)
             AS BIGINT) FROM src_share s
      UNION ALL SELECT '10_top_lang_share_bps',
        CAST((l.max_lang_docs * 10000) // (SELECT COUNT(*) FROM per_doc)
             AS BIGINT) FROM lang_share l
    )
    ORDER BY metric
    """,
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("bigint")
    per_doc = materialize(
        docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            n_tok.alias("n_tok"),
            F.md5("text").alias("h"),
        )
    )
    total = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.expr("CAST((SUM(n_tok) * 100) div COUNT(*) AS BIGINT)").alias(
            "mean_tokens_x100"
        ),
        F.max("n_tok").cast("bigint").alias("max_doc_tokens"),
    )
    dups = (
        per_doc.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .agg(F.sum(F.col("cnt") - 1).cast("bigint").alias("n_dup_docs"))
    )
    max_src = (
        per_doc.groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").cast("bigint").alias("max_src_docs"))
    )
    max_lang = (
        per_doc.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").cast("bigint").alias("max_lang_docs"))
    )
    base = (
        total.join(F.broadcast(dups))
        .join(F.broadcast(max_src))
        .join(F.broadcast(max_lang))
    )

    def _m(name: str, col: F.Column) -> F.Column:
        return F.struct(F.lit(name).alias("metric"), col.alias("value"))

    metrics = F.array(
        _m("01_n_docs", F.col("n_docs")),
        _m("02_n_sources", F.col("n_sources")),
        _m("03_n_langs", F.col("n_langs")),
        _m("04_total_tokens", F.col("total_tokens")),
        _m("05_total_chars", F.col("total_chars")),
        _m("06_mean_tokens_x100", F.col("mean_tokens_x100")),
        _m("07_max_doc_tokens", F.col("max_doc_tokens")),
        _m("08_exact_dup_docs", F.col("n_dup_docs")),
        _m(
            "09_top_source_share_bps",
            F.expr("CAST((max_src_docs * 10000) div n_docs AS BIGINT)"),
        ),
        _m(
            "10_top_lang_share_bps",
            F.expr("CAST((max_lang_docs * 10000) div n_docs AS BIGINT)"),
        ),
    )
    return (
        base.select(F.explode(metrics).alias("kv"))
        .select(F.col("kv.metric").alias("metric"), F.col("kv.value").alias("value"))
        .orderBy("metric")
    )


# --------------------------------------------------------------------------
# Round 8 — n-gram LM QUALITY SCORING (the CCNet/Gopher perplexity-filter
# posture): train an add-smoothed bigram language model on the historical
# split and score the incoming split's text by bits-per-bigram — the
# quality gate production pipelines run before expensive dedup stages
# (low-LM-fit text is boilerplate, markup soup, or the wrong language).
#
# INTEGER-EXACT by construction: per-bigram surprisal is the floor-log2
# difference  ilog2(c(w1) + V) − ilog2(c(w1,w2) + 1)  computed as
# length(bin(n)) arithmetic — both engines produce identical BIGINTs, so
# the scores hash-verify with no float in sight (the determinism rule at
# the top of relational.py). The floor-log2 model keeps the ordering and
# scale of real surprisal (it is exact-log2 at powers of two) while
# staying oracle-checkable.
#
# Scale: unigram/bigram training counts are two partial-aggregated
# shuffles over the historical token stream; scoring joins the incoming
# bigram OCCURRENCES against the count tables on the gram key (shuffle
# hash join — the vocabulary is far too large to broadcast at corpus
# scale, and the join key is a short string); the final per-language
# rollup is a tiny aggregate. No all-pairs, no driver-side state.
# --------------------------------------------------------------------------
@_register(
    "lm_quality_scores",
    f"""
    WITH marked AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS toks,
             {_BUCKET_SQL} AS bucket
      FROM documents
    ),
    hist AS (SELECT * FROM marked WHERE bucket < 50),
    inc AS (SELECT * FROM marked WHERE bucket >= 50),
    hist_tok AS (SELECT unnest(toks) AS w FROM hist),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM hist_tok GROUP BY w),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    hist_bi AS (
      SELECT list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1]) AS bgs
      FROM hist WHERE len(toks) >= 2
    ),
    bi AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12
      FROM (SELECT unnest(bgs) AS bg FROM hist_bi) GROUP BY bg
    ),
    inc_bi AS (
      SELECT doc_id, lang, unnest(
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS bg
      FROM inc WHERE len(toks) >= 2
    ),
    scored AS (
      SELECT ib.lang, ib.doc_id,
             length(bin(COALESCE(u.c1, 0) + (SELECT v FROM vocab)))
               - length(bin(COALESCE(b.c12, 0) + 1)) AS bits
      FROM inc_bi ib
      LEFT JOIN bi b ON b.bg = ib.bg
      LEFT JOIN uni u ON u.w = string_split(ib.bg, ' ')[1]
    ),
    per_bi AS (
      SELECT lang,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(bits) AS BIGINT) AS sum_bits
      FROM scored GROUP BY lang
    ),
    inc_tok AS (
      SELECT lang, unnest(toks) AS w FROM inc
    ),
    per_tok AS (
      SELECT it.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN u.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM inc_tok it LEFT JOIN uni u ON u.w = it.w
      GROUP BY it.lang
    )
    SELECT b.lang AS lang, b.n_docs, b.n_bigrams,
           CAST((1000 * b.sum_bits) // b.n_bigrams AS BIGINT)
             AS mbits_per_bigram,
           CAST((10000 * t.n_oov) // t.n_tok AS BIGINT) AS oov_bps
    FROM per_bi b JOIN per_tok t ON t.lang = b.lang
    ORDER BY b.lang
    """,
)
def lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bits-per-bigram (milli-bits, integer-exact floor-log2
    add-smoothed bigram LM trained on the historical split) and OOV rate
    for the incoming split — the LM-based quality gate, hash-verified
    against a from-scratch DuckDB replay."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    marked = docs.withColumn("bucket", _bucket_col())
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 0
    )
    hist = (
        marked.filter(F.col("bucket") < 50)
        .select("doc_id", "lang", toks.alias("ts"))
    )
    inc = (
        marked.filter(F.col("bucket") >= 50)
        .select("doc_id", "lang", toks.alias("ts"))
    )
    bigrams = F.zip_with(
        F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0))),
        F.slice("ts", 2, F.greatest(F.size("ts") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    hist_tok = hist.select(F.explode("ts").alias("w"))
    uni = hist_tok.groupBy("w").agg(F.count("*").cast("bigint").alias("c1"))
    vocab = uni.agg(F.count("*").cast("bigint").alias("v"))
    bi = (
        hist.filter(F.size("ts") >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    inc_bi = (
        inc.filter(F.size("ts") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bg"))
    )
    scored = (
        inc_bi.join(bi, "bg", "left")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "doc_id",
            (
                F.length(F.bin(F.coalesce("c1", F.lit(0)) + F.col("v")))
                - F.length(F.bin(F.coalesce("c12", F.lit(0)) + F.lit(1)))
            ).alias("bits"),
        )
    )
    per_bi = scored.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("sum_bits"),
    )
    inc_tok = inc.select("lang", F.explode("ts").alias("w"))
    per_tok = inc_tok.join(
        uni.select("w", F.lit(1).alias("seen")), "w", "left"
    ).groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )
    return (
        per_bi.join(per_tok, "lang")
        .selectExpr(
            "lang",
            "n_docs",
            "n_bigrams",
            "CAST((1000 * sum_bits) div n_bigrams AS BIGINT)"
            " AS mbits_per_bigram",
            "CAST((10000 * n_oov) div n_tok AS BIGINT) AS oov_bps",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Round 8 — SEQUENCE-LENGTH tradeoff for contiguous packing, measured:
# pack_sequences_by_source's contiguous model (docs concatenated per
# source, bins cut every L tokens) trades three costs against L —
# shorter sequences mean MORE documents sliced across bin boundaries
# (attention contamination / fragment loss at train time) but LESS tail
# padding per source, and more bins overall. This query scores
# L in {512, 1024, 2048} on the identical token stream: bin count,
# boundary-crossing documents (and their rate), total fragments, and
# tail-padding tokens — the sequence-length choice becomes a measured
# row like the MinHash-band / SimHash-threshold / winnowing-window
# matrix. All exact integers from ONE tokenize + running-sum pass.
#
# Scale: one windowed running sum per source (the packing op's own
# shape); each L adds only aggregate expressions over the same frame —
# no extra scan, no shuffle beyond the one window.
# --------------------------------------------------------------------------
_PACK_LS = (512, 1024, 2048)


def _pack_tradeoff_oracle() -> str:
    rows = []
    for L in _PACK_LS:
        rows.append(f"""
      SELECT CAST({L} AS BIGINT) AS seq_len,
             CAST(SUM(CASE WHEN is_last = 1
                      THEN (toks_before + n_toks + {L} - 1) // {L}
                      ELSE 0 END) AS BIGINT) AS n_bins,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN n_toks > 0 AND
                        toks_before // {L}
                        <> (toks_before + n_toks - 1) // {L}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
             CAST((10000 * SUM(CASE WHEN n_toks > 0 AND
                        toks_before // {L}
                        <> (toks_before + n_toks - 1) // {L}
                      THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
               AS crossing_bps,
             CAST(SUM(CASE WHEN n_toks > 0
                      THEN (toks_before + n_toks - 1) // {L}
                           - toks_before // {L} + 1
                      ELSE 0 END) AS BIGINT) AS n_fragments,
             CAST(SUM(CASE WHEN is_last = 1
                      THEN ((toks_before + n_toks + {L} - 1) // {L}) * {L}
                           - (toks_before + n_toks)
                      ELSE 0 END) AS BIGINT) AS padding_toks
      FROM runs""")
    sel = "\n      UNION ALL".join(rows)
    return f"""
    WITH counted AS (
      SELECT doc_id, source,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> t <> ''))
               AS n_toks
      FROM documents
    ),
    runs AS (
      SELECT doc_id, source, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks
               AS toks_before,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY doc_id DESC) = 1
                  THEN 1 ELSE 0 END AS is_last
      FROM counted
    )
    SELECT * FROM ({sel})
    ORDER BY seq_len
    """


@_register("packing_length_tradeoff", _pack_tradeoff_oracle())
def packing_length_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin count / boundary-crossing docs / fragments / tail padding for
    contiguous packing at L = 512/1024/2048 — one tokenize + running-sum
    pass, the sequence-length decision as a measured row."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("bigint")
    counted = docs.select("doc_id", "source", n_toks.alias("n_toks"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_last = W.partitionBy("source").orderBy(F.desc("doc_id"))
    runs = counted.withColumn(
        "toks_before", F.sum("n_toks").over(w) - F.col("n_toks")
    ).withColumn(
        "is_last",
        F.when(F.row_number().over(w_last) == 1, 1).otherwise(0),
    )
    out = None
    for L in _PACK_LS:
        start_bin = F.expr(f"toks_before div {L}")
        end_bin = F.expr(f"(toks_before + n_toks - 1) div {L}")
        crossing = (F.col("n_toks") > 0) & (start_bin != end_bin)
        last_total = F.col("toks_before") + F.col("n_toks")
        last_bins = F.expr(f"(toks_before + n_toks + {L} - 1) div {L}")
        row = runs.agg(
            F.lit(L).cast("bigint").alias("seq_len"),
            F.sum(F.when(F.col("is_last") == 1, last_bins).otherwise(0))
            .cast("bigint")
            .alias("n_bins"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(crossing, 1).otherwise(0))
            .cast("bigint")
            .alias("n_crossing"),
            F.expr(
                f"CAST((10000 * SUM(CASE WHEN n_toks > 0 AND "
                f"toks_before div {L} <> (toks_before + n_toks - 1) div {L} "
                f"THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("crossing_bps"),
            F.sum(
                F.when(
                    F.col("n_toks") > 0, end_bin - start_bin + F.lit(1)
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_fragments"),
            F.sum(
                F.when(
                    F.col("is_last") == 1, last_bins * L - last_total
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("padding_toks"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("seq_len")


# --------------------------------------------------------------------------
# Round 8 — TOKEN-BUDGET sampling: the executor for source mixing — given
# a per-source token budget, keep each source's documents in the stable
# md5(doc_id) order until the budget is reached (the last kept document
# may overshoot; take-until semantics). Deterministic across runs,
# engines, and cluster sizes — the reproducible way to cut a 100 TB
# corpus down to a target token mix (source_mixing_weights decides the
# ratios; this op materializes them).
#
# Scale: one windowed running sum per source over (doc, n_toks) rows —
# the same shape as packing; the keep decision is a map-side filter on
# the running sum. No collect, no iteration.
# --------------------------------------------------------------------------
_TB_BUDGET = 20_000  # tokens per source


@_register(
    "token_budget_sample",
    f"""
    WITH counted AS (
      SELECT doc_id, source,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> t <> ''))
               AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ),
    runs AS (
      SELECT source, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY ord, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks
               AS toks_before
      FROM counted
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_total,
           CAST(SUM(CASE WHEN toks_before < {_TB_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN toks_before < {_TB_BUDGET} THEN n_toks
                         ELSE 0 END) AS BIGINT) AS toks_kept,
           CAST((10000 * SUM(CASE WHEN toks_before < {_TB_BUDGET}
                                  THEN n_toks ELSE 0 END)) // {_TB_BUDGET}
                AS BIGINT) AS budget_fill_bps
    FROM runs
    GROUP BY source
    ORDER BY source
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic take-until-token-budget sample: docs in
    md5(doc_id) order accumulate until {_TB_BUDGET} tokens; kept-doc and
    kept-token counts plus budget fill, hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("bigint")
    counted = docs.select(
        "doc_id",
        "source",
        n_toks.alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("ord"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("ord", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = counted.withColumn(
        "toks_before", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    kept = F.col("toks_before") < _TB_BUDGET
    return (
        runs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_total"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("toks_kept"),
            F.expr(
                f"CAST((10000 * SUM(CASE WHEN toks_before < {_TB_BUDGET} "
                f"THEN n_toks ELSE 0 END)) div {_TB_BUDGET} AS BIGINT)"
            ).alias("budget_fill_bps"),
        )
        .orderBy("source")
    )
