"""Retrieval / RAG-pipeline operators over ``documents`` (SURVEY.md §2
B27 extensions — LLM-data-pipeline surface, no reference citation by
definition; inputs per ``repo:TESTDATA.md``).

The operators a retrieval-augmented-generation data pipeline needs
between "raw corpus" and "index":

* ``chunk_documents_overlap`` — split every document into fixed-size
  overlapping token windows (the RAG chunking step).
* ``bm25_topk_docs`` — BM25-shaped lexical retrieval for a query term
  set, in exact integer fixed-point so the DuckDB oracle reproduces the
  scores bit-for-bit.
* ``unigram_rarity_score`` — unigram-LM surprisal proxy per document
  (the cheap stand-in for perplexity-based quality filtering).
* ``feature_hash_bigrams`` — fastText-style hashed bag-of-bigrams
  featurization (the embedding-free input to cheap linear classifiers).
* ``perceptron_weak_label_train`` — batch-perceptron training of a
  weak-label quality-filter model (balance → featurize → broadcast-
  weights rounds), the hash-verified learning curve included.
* ``perceptron_holdout_eval`` — the inference half: train on the md5
  75% split, score the held-out 25%, report the out-of-sample
  confusion matrix.

Everything is built-in Spark SQL functions (JVM codegen); tokenization
is the same single-space split the rest of the text family uses so the
oracle can mirror it exactly. Integer division is spelled ``div`` on
BIGINTs in Spark and ``//`` in DuckDB — identical for the non-negative
operands used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.operators.dedup import _token_rows
from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.materialize import materialize, release_blocks

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
# RAG chunking: 32-token windows, stride 24 (8-token overlap). A trailing
# chunk that is fully contained in its predecessor (fewer than overlap+1
# new tokens) is dropped — it would index nothing new.
#
# Scale: map-only. The token array never leaves its row — split, windowed
# slice, and re-join all happen inside one projection, so the operator is
# embarrassingly parallel with zero shuffle; output partitioning follows
# the scan. At 100 TB this is the ideal shape (chunking is the classic
# "explode amplifies rows 2-5×" step — amplification happens AFTER the
# scan filter, and downstream writers re-partition by chunk count anyway).
# --------------------------------------------------------------------------
_CHUNK_W = 32
_CHUNK_S = 24
_CHUNK_OVL = _CHUNK_W - _CHUNK_S


@_register(
    "chunk_documents_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                 t -> t <> '') AS t
      FROM documents
    ),
    starts AS (
      SELECT doc_id, t, len(t) AS n_total,
             unnest(range(0, greatest(len(t), 1), {_CHUNK_S})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS tok_start,
           CAST(len(array_slice(t, s + 1, s + {_CHUNK_W})) AS BIGINT) AS n_tok,
           array_to_string(array_slice(t, s + 1, s + {_CHUNK_W}), ' ')
             AS chunk_text
    FROM starts
    WHERE s = 0 OR n_total - s > {_CHUNK_OVL}
    ORDER BY doc_id, tok_start
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("t"),
    ).withColumn("n_total", F.size("t"))
    # sequence(0, n-1, S) == range(0, n, S) for n >= 1; greatest() keeps
    # the one empty chunk for a token-less document (range's greatest(n,1)
    # mirrors it on the oracle side).
    starts = toks.select(
        "doc_id",
        "t",
        "n_total",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_total") - 1, F.lit(0)),
                F.lit(_CHUNK_S),
            )
        ).alias("s"),
    )
    chunk = F.slice(F.col("t"), F.col("s") + 1, _CHUNK_W)
    return (
        starts.filter(
            (F.col("s") == 0) | (F.col("n_total") - F.col("s") > _CHUNK_OVL)
        )
        .select(
            "doc_id",
            (F.col("s") / _CHUNK_S).cast("bigint").alias("chunk_idx"),
            F.col("s").cast("bigint").alias("tok_start"),
            F.size(chunk).cast("bigint").alias("n_tok"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "tok_start")
    )


# --------------------------------------------------------------------------
# BM25-shaped lexical retrieval (k1 = 1.2, b = 0.75) for a fixed query
# term set, entirely in integer fixed-point:
#
#   idf_m    = (N * 1000) div df              (pseudo-IDF, monotone in ln(N/df))
#   norm_m   = 250 + (750000 * dl) div avgdl_m       (1 - b + b*dl/avgdl)
#   denom_m  = tf*1000 + (1200 * norm_m) div 1000    (tf + k1*norm)
#   contrib  = (idf_m * tf * 2200) div denom_m       (idf * tf*(k1+1)/denom)
#
# Scale shape: the query-term filter runs BEFORE any aggregation, so the
# (doc, term) frame entering the join is |matches|, not |corpus tokens|;
# df for the 3 query terms and the corpus avgdl are broadcast scalars;
# the only data-sized shuffles are the per-doc token count (partial
# aggregate on doc_id) and the final per-doc score sum, both keyed on
# doc_id. No global sort — top-10 via rank window over the scored frame
# (bounded by |docs matching any query term|).
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "stream")


_BM25_SCORED_CTES = f"""
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, (SUM(dl) * 1000) // COUNT(*) AS avgdl_m
      FROM dl
    ),
    qtf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    qdf AS (SELECT tok, COUNT(*) AS df FROM qtf GROUP BY tok),
    contrib AS (
      SELECT qtf.doc_id, qtf.tok,
             ((stats.n_docs * 1000) // qdf.df) * qtf.tf * 2200
               // (qtf.tf * 1000
                   + (1200 * (250 + (750000 * dl.dl) // stats.avgdl_m)) // 1000)
               AS c_m
      FROM qtf
      JOIN qdf ON qdf.tok = qtf.tok
      JOIN dl ON dl.doc_id = qtf.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c_m) AS BIGINT) AS bm25_m,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM contrib GROUP BY doc_id
    )"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25_m, n_terms_hit) for every doc matching a query term
    — the scored frame behind bm25_topk_docs, reused by the RRF fusion."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _token_rows(docs).select("doc_id", "tok")
    # dl feeds both the corpus stats and the scoring join — materialize so
    # tokenize + per-doc count runs once.
    dl = materialize(toks.groupBy("doc_id").agg(F.count("*").alias("dl")))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("(SUM(dl) * 1000) div COUNT(*)").alias("avgdl_m"),
    )
    # qtf feeds both the per-term df counts and the scoring join —
    # materialize (it is |docs matching a query term| rows, tiny relative
    # to the corpus) so the corpus-wide explode+filter runs once.
    qtf = materialize(
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    qdf = qtf.groupBy("tok").agg(F.count("*").alias("df"))
    contrib = (
        qtf.join(F.broadcast(qdf), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("idf_m", F.expr("(n_docs * 1000) div df"))
        .withColumn("norm_m", F.expr("250 + (750000 * dl) div avgdl_m"))
        .withColumn(
            "c_m",
            F.expr(
                "(idf_m * tf * 2200) div "
                "(tf * 1000 + (1200 * norm_m) div 1000)"
            ),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("c_m").cast("bigint").alias("bm25_m"),
        F.count("*").cast("bigint").alias("n_terms_hit"),
    )


@_register(
    "bm25_topk_docs",
    f"""
    WITH {_BM25_SCORED_CTES}
    SELECT doc_id, bm25_m, n_terms_hit, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY bm25_m DESC, doc_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    ORDER BY rnk
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    # Two-phase top-k (TakeOrderedAndProject: per-partition heads merged on
    # the driver — no global sort, no unpartitioned window), then the rank
    # column is derived over the 10 survivors with a broadcast "count of
    # rows ahead of me" self-join — O(k²) on k=10, never data-sized.
    top = materialize(
        scored.orderBy(F.desc("bm25_m"), F.asc("doc_id")).limit(10)
    )
    ahead = top.select(
        F.col("doc_id").alias("b_doc"),
        F.col("bm25_m").alias("b_score"),
    )
    return (
        top.join(
            F.broadcast(ahead),
            (F.col("b_score") > F.col("bm25_m"))
            | (
                (F.col("b_score") == F.col("bm25_m"))
                & (F.col("b_doc") <= F.col("doc_id"))
            ),
        )
        .groupBy("doc_id", "bm25_m", "n_terms_hit")
        .agg(F.count("*").cast("int").alias("rnk"))
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Unigram-LM surprisal proxy: every token's corpus "rarity" is the
# integer inverse of its unigram probability, (total_tokens*1000) div
# count; a document's score is the mean rarity over its token
# OCCURRENCES. High mean rarity = improbable under the corpus unigram
# model — the cheap analog of the perplexity filters LLM pipelines run
# (and monotone in the true unigram perplexity when token probabilities
# are equal, exact-integer so the oracle hash-matches).
#
# Scale: the model is one hash-aggregate over tokens (partial map-side
# combine); scoring re-joins tokens to the model on the token key. At
# 100 TB the production variant truncates the model to the top-V
# vocabulary + an OOV bucket and BROADCASTS it, turning the scoring join
# map-only; the equi-join spelling here is the exact-semantics fallback
# when the vocabulary itself exceeds broadcast size.
# --------------------------------------------------------------------------
@_register(
    "unigram_rarity_score",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    model AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT SUM(cnt) AS total_toks FROM model)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM((total.total_toks * 1000) // m.cnt) // COUNT(*) AS BIGINT)
             AS mean_rarity_m
    FROM toks t JOIN model m ON m.tok = t.tok CROSS JOIN total
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def unigram_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # toks is read twice (model + scoring) — materialize the exploded
    # frame once; the model aggregate is partial map-side.
    toks = materialize(_token_rows(docs).select("doc_id", "tok"))
    model = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total_toks"))
    return (
        toks.join(model, "tok")
        .join(F.broadcast(total))
        .withColumn("rarity_m", F.expr("(total_toks * 1000) div cnt"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.expr("CAST(SUM(rarity_m) div COUNT(*) AS BIGINT)").alias(
                "mean_rarity_m"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# fastText-style feature hashing: every word BIGRAM (with multiplicity)
# is hashed into one of 64 buckets; a document's feature vector is its
# per-bucket count histogram. The embedding-free featurization step for
# cheap linear classifiers (quality gates, language filters) — emitted
# here as the top-3 buckets per document, which is the sparse form the
# classifier consumes.
#
# Scale: one shuffle gathers each doc's ordered token array (the same
# single-pass shape dedup's shingler uses); bigrams, hashing, and bucket
# counts are per-row array work + one (doc, bucket) hash aggregate with
# map-side combine. The rank window partitions by doc_id — parallel
# across documents. Bucket count (64) is a constant: the shuffle carries
# ≤64 rows per doc regardless of document length.
# --------------------------------------------------------------------------
_FH_BUCKETS = 64


@_register(
    "feature_hash_bigrams",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                 t -> t <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    counts AS (
      SELECT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT % {_FH_BUCKETS}
               AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2
    )
    SELECT doc_id, bucket, cnt, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, bucket) AS rnk
      FROM counts)
    WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def feature_hash_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("t"),
    )
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice(F.col("t"), 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = toks.filter(n >= 2).select(
        "doc_id", F.explode(bigrams).alias("g")
    )
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint")
        % _FH_BUCKETS
    )
    counts = grams.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("bucket"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al., SIGIR
# 2009): the lexical channel (BM25 over the query terms) and the
# semantic channel (exact cosine against query vector 0 — vec_id aligns
# 1:1 with doc_id in the testdata) each produce a top-20 ranking; a
# document's fused score is Σ 10⁶ div (60 + rank) over the channels it
# appears in — the canonical RRF k=60, in integer fixed-point so both
# engines agree exactly. THE production hybrid-search shape: dense and
# sparse retrievers disagree about the tail, RRF promotes documents
# both channels like.
#
# Scale: each channel is its own bounded top-k (rank windows over
# already-aggregated frames); the fusion is a tiny full-outer join of
# two ≤20-row frames. Nothing data-sized crosses the fusion boundary.
# --------------------------------------------------------------------------
def _rank_bounded(
    df: DataFrame, score: str, ident: str, k: int, rank_col: str
) -> DataFrame:
    """Top-k by (score desc, ident asc) with a derived 1-based rank and
    NO global window: orderBy+limit plans as TakeOrderedAndProject
    (per-partition heads, k-row driver merge), then the rank is a
    broadcast count-ahead self-join over the k survivors — O(k²) on a
    constant k, never data-sized, and no `WindowExec: No Partition
    Defined` single-task sort at any input size."""
    top = materialize(df.orderBy(F.desc(score), F.asc(ident)).limit(k))
    ahead = top.select(
        F.col(score).alias("_b_s"), F.col(ident).alias("_b_i")
    )
    return (
        top.join(
            F.broadcast(ahead),
            (F.col("_b_s") > F.col(score))
            | (
                (F.col("_b_s") == F.col(score))
                & (F.col("_b_i") <= F.col(ident))
            ),
        )
        .groupBy(*df.columns)
        .agg(F.count("*").cast("int").alias(rank_col))
    )


_RRF_K = 60
_RRF_TOPC = 20  # per-channel candidate depth


@_register(
    "hybrid_rrf_fusion",
    f"""
    WITH {{bm25}},
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_m DESC, doc_id)
               AS r_lex
      FROM scored QUALIFY r_lex <= {_RRF_TOPC}
    ),
    fp AS (
      SELECT vec_id, {{fpexpr}} AS e FROM embeddings
    ),
    norms AS (
      SELECT vec_id, e, {{dot_ee}} AS nsq FROM fp
    ),
    q AS (SELECT e AS q_e, nsq AS q_nsq FROM norms WHERE vec_id = 0),
    cos AS (
      SELECT c.vec_id AS doc_id,
             CAST({{dot_qc}} AS DOUBLE)
               / (SQRT(CAST(q.q_nsq AS DOUBLE)) * SQRT(CAST(c.nsq AS DOUBLE)))
               AS cosine
      FROM norms c CROSS JOIN q WHERE c.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
               AS r_sem
      FROM cos QUALIFY r_sem <= {_RRF_TOPC}
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             COALESCE(1000000 // ({_RRF_K} + r_lex), 0)
               + COALESCE(1000000 // ({_RRF_K} + r_sem), 0) AS rrf_m,
             lex.doc_id IS NOT NULL AS in_lexical,
             sem.doc_id IS NOT NULL AS in_semantic
      FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id
    )
    SELECT doc_id, rrf_m, in_lexical, in_semantic, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_m DESC, doc_id) AS rnk
      FROM fused)
    WHERE rnk <= 10
    ORDER BY rnk
    """.format(
        bm25=_BM25_SCORED_CTES,
        fpexpr="list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(ROUND(x * 10000000, 0) AS BIGINT))",
        dot_ee="list_sum(list_transform(range(1, len(e) + 1), "
        "i -> e[i] * e[i]))",
        dot_qc="list_sum(list_transform(range(1, len(q.q_e) + 1), "
        "i -> q.q_e[i] * c.e[i]))",
    ),
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rrf_fused(spark, sf_dir)


def _rrf_fused(
    spark: SparkSession, sf_dir: str, scored: DataFrame | None = None
) -> DataFrame:
    """RRF fusion body; ``scored`` lets a composing caller (the
    retrieval funnel) pass an already-materialized BM25 frame so the
    corpus-wide tokenize pipeline runs once, not once per consumer."""
    from iceberg_loader_spark.operators.similarity import _dot, _fixed_point

    if scored is None:
        scored = _bm25_scored(spark, sf_dir)
    # lexical channel: top-20 BM25, two-phase top-k (no global window)
    lex = _rank_bounded(
        scored.select("doc_id", "bm25_m"),
        "bm25_m",
        "doc_id",
        _RRF_TOPC,
        "r_lex",
    ).select("doc_id", "r_lex")
    # semantic channel: exact cosine vs query vector 0, top-20
    emb = load_table(spark, sf_dir, "embeddings")
    fp = emb.select(
        "vec_id", _fixed_point(F.col("embedding")).alias("e")
    ).withColumn("nsq", _dot(F.col("e"), F.col("e")))
    q = fp.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("q_e"), F.col("nsq").alias("q_nsq")
    )
    cos = (
        fp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                _dot(F.col("q_e"), F.col("e")).cast("double")
                / (
                    F.sqrt(F.col("q_nsq").cast("double"))
                    * F.sqrt(F.col("nsq").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    sem = _rank_bounded(cos, "cosine", "doc_id", _RRF_TOPC, "r_sem").select(
        F.col("doc_id").alias("s_doc"), "r_sem"
    )
    rrf = F.coalesce(
        F.expr(f"1000000 div ({_RRF_K} + r_lex)"), F.lit(0).cast("bigint")
    ) + F.coalesce(
        F.expr(f"1000000 div ({_RRF_K} + r_sem)"), F.lit(0).cast("bigint")
    )
    fused = lex.join(sem, F.col("s_doc") == F.col("doc_id"), "full_outer").select(
        F.coalesce("doc_id", "s_doc").alias("doc_id"),
        rrf.alias("rrf_m"),
        F.col("r_lex").isNotNull().alias("in_lexical"),
        F.col("r_sem").isNotNull().alias("in_semantic"),
    )
    return (
        _rank_bounded(fused, "rrf_m", "doc_id", 10, "rnk")
        .filter(F.col("rnk") <= 10)
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Distributed linear-model TRAINING in the engine: a batch perceptron
# quality-filter model trained against a weak keyword label (doc
# contains the token 'spark' — the heuristic-rule labeling that seeds
# fastText-style corpus filters), unrolled for 3 rounds in exact
# integer arithmetic. The full pipeline a curation stack runs:
#
#   1. weak labels from a rule;
#   2. CLASS BALANCING — all negatives + an equal count of positives
#      drawn in md5(doc_id) order (append-stable, both engines agree);
#   3. hashed unigram PRESENCE features (256 buckets + bias);
#   4. batch (not online) perceptron rounds — weights broadcast to the
#      data, margins map-side, the gradient Σ y·x over misclassified
#      rows partial-aggregated back; batch updates are order-
#      independent, so the result is deterministic at any parallelism
#      and DuckDB replays it bit-for-bit;
#   5. damped update w ← 4·w + Σ y·x (sign(w·x) is invariant under
#      positive scaling, so this is learning rate ¼ — the unit-rate
#      update overshoots the shared-feature mass and oscillates).
#
# Per-round training misclassifications and accuracy are the output —
# the learning curve itself is hash-verified (≈50% → >94% → >98%).
#
# Scale: per round = one broadcast hash join (≤257 weight rows — the
# weights NEVER shuffle the data) + two partial-aggregated shuffles
# keyed on doc_id / bucket over the once-materialized feature frame.
# Rounds are unrolled (fixed 3), the same driver-side pattern as the
# PageRank / k-means loops. The one knowingly non-scale-clean step is
# the EXACT balancing rank (row_number partitioned by y — two ordered
# partitions, chosen here because the oracle must replay the pick
# bit-for-bit); at 100 TB you swap it for the map-only threshold form
# (keep positives with md5(doc_id) below the positive/negative ratio
# cut — approximate balance, zero shuffle) and nothing downstream
# changes.
# --------------------------------------------------------------------------
_PC_B = 256  # feature buckets; bias rides as bucket index _PC_B
_PC_ROUNDS = 3
_PC_DAMP = 4  # w <- _PC_DAMP*w + update  (effective learning rate 1/4)
_PC_SPLIT = 75  # md5 bucket < 75 trains, >= 75 is the held-out eval split

# Shared oracle chunks. `pool_filter` restricts which documents may enter
# the balanced TRAINING set; features/weights CTEs are identical either way.
_PC_LABELS_SQL = """
    labels0 AS (
      SELECT doc_id,
             CASE WHEN list_contains(list_filter(string_split(lower(text), ' '),
                                                 t -> t <> ''), 'spark')
                  THEN 1 ELSE -1 END AS y,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS split_bucket
      FROM documents
    )"""


def _pc_train_ctes(pool_filter: str) -> str:
    """CTEs labels0→fl→w1..w{R}/m1..m{R}: balanced pool, presence
    features, and the unrolled damped-update training rounds."""
    ctes = f"""{_PC_LABELS_SQL},
    pool AS (SELECT doc_id, y FROM labels0 {pool_filter}),
    nn AS (SELECT SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS n_neg FROM pool),
    ranked AS (
      SELECT doc_id, y,
             ROW_NUMBER() OVER (PARTITION BY y
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM pool
    ),
    labels AS (SELECT doc_id, y FROM ranked, nn WHERE y = -1 OR rk <= n_neg),
    toks AS (
      SELECT d.doc_id,
             list_distinct(list_filter(string_split(lower(d.text), ' '),
                                       t -> t <> '')) AS t
      FROM documents d JOIN labels l ON l.doc_id = d.doc_id
    ),
    grams AS (SELECT doc_id, unnest(t) AS g FROM toks),
    feats AS (
      SELECT DISTINCT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT % {_PC_B} AS bucket,
             1 AS cnt
      FROM grams
      UNION ALL
      SELECT doc_id, {_PC_B} AS bucket, 1 AS cnt FROM labels
    ),
    fl AS (
      SELECT f.doc_id, f.bucket, f.cnt, l.y
      FROM feats f JOIN labels l USING (doc_id)
    ),
    w1 AS (SELECT bucket, SUM(y * cnt) AS w FROM fl GROUP BY bucket),
    m1 AS (
      SELECT fl.doc_id, fl.y, SUM(w1.w * fl.cnt) AS s
      FROM fl JOIN w1 USING (bucket) GROUP BY fl.doc_id, fl.y
    )"""
    for t in range(2, _PC_ROUNDS + 1):
        ctes += f""",
    u{t - 1} AS (
      SELECT fl.bucket, SUM(fl.y * fl.cnt) AS d
      FROM fl JOIN (SELECT doc_id FROM m{t - 1} WHERE y * s <= 0) m
        USING (doc_id)
      GROUP BY fl.bucket
    ),
    w{t} AS (
      SELECT w{t - 1}.bucket,
             {_PC_DAMP} * w{t - 1}.w + COALESCE(u{t - 1}.d, 0) AS w
      FROM w{t - 1} LEFT JOIN u{t - 1} USING (bucket)
    ),
    m{t} AS (
      SELECT fl.doc_id, fl.y, SUM(w{t}.w * fl.cnt) AS s
      FROM fl JOIN w{t} USING (bucket) GROUP BY fl.doc_id, fl.y
    )"""
    return ctes


def _pc_train_oracle() -> str:
    sel = [
        f"SELECT {t} AS round, CAST(COUNT(*) AS BIGINT) AS n_train,"
        f" CAST(SUM(CASE WHEN y * s <= 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_miss FROM m{t}"
        for t in range(1, _PC_ROUNDS + 1)
    ]
    return (
        "\n    WITH "
        + _pc_train_ctes("")
        + ",\n    stats AS (\n    "
        + "\n    UNION ALL ".join(sel)
        + """
    )
    SELECT round, n_train, n_miss,
           CAST(((n_train - n_miss) * 10000) // n_train AS BIGINT) AS acc_bps
    FROM stats ORDER BY round
    """
    )


def _pc_holdout_oracle() -> str:
    return (
        "\n    WITH "
        + _pc_train_ctes(f"WHERE split_bucket < {_PC_SPLIT}")
        + f""",
    test AS (
      SELECT doc_id, y FROM labels0 WHERE split_bucket >= {_PC_SPLIT}
    ),
    ttoks AS (
      SELECT d.doc_id,
             list_distinct(list_filter(string_split(lower(d.text), ' '),
                                       t -> t <> '')) AS t
      FROM documents d JOIN test l ON l.doc_id = d.doc_id
    ),
    tgrams AS (SELECT doc_id, unnest(t) AS g FROM ttoks),
    tfeats AS (
      SELECT DISTINCT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT % {_PC_B} AS bucket,
             1 AS cnt
      FROM tgrams
      UNION ALL
      SELECT doc_id, {_PC_B} AS bucket, 1 AS cnt FROM test
    ),
    ts AS (
      SELECT f.doc_id, l.y, SUM(w{_PC_ROUNDS}.w * f.cnt) AS s
      FROM tfeats f
      JOIN test l USING (doc_id)
      JOIN w{_PC_ROUNDS} USING (bucket)
      GROUP BY f.doc_id, l.y
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN y = 1 AND s > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN y = -1 AND s > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN y = 1 AND s <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN y = -1 AND s <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM ts
    )
    SELECT n_test, tp, fp, fn, tn,
           CAST(((tp + tn) * 10000) // n_test AS BIGINT) AS acc_bps
    FROM cm
    """
    )


def _pc_tok_arr() -> F.Column:
    return F.array_distinct(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    )


def _pc_labels0(docs: DataFrame) -> DataFrame:
    """(doc_id, t, y, split_bucket) — weak keyword label + split bucket."""
    tok_arr = _pc_tok_arr()
    return docs.select(
        "doc_id",
        tok_arr.alias("t"),
        F.when(F.array_contains(tok_arr, "spark"), 1)
        .otherwise(-1)
        .cast("bigint")
        .alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 100
        ).alias("split_bucket"),
    )


def _pc_balanced(pool: DataFrame) -> DataFrame:
    """All negatives + the same count of positives in md5(doc_id) order
    (exact, oracle-replayable; see scale note on the registered query)."""
    n_neg = pool.agg(F.sum((F.col("y") == -1).cast("bigint")).alias("n_neg"))
    ranked = pool.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("y").orderBy(F.md5(F.col("doc_id").cast("string")))
        ),
    )
    return (
        ranked.join(F.broadcast(n_neg))
        .filter((F.col("y") == -1) | (F.col("rk") <= F.col("n_neg")))
        .select("doc_id", "t", "y")
    )


def _pc_feature_frame(labeled: DataFrame) -> DataFrame:
    """(doc_id, bucket, cnt, y): hashed unigram PRESENCE features + bias,
    materialized once (scanned by every training/scoring round)."""
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % _PC_B
    )
    presence = (
        labeled.select("doc_id", F.explode("t").alias("g"))
        .select("doc_id", bucket.alias("bucket"))
        .distinct()
    )
    bias = labeled.select(
        "doc_id", F.lit(_PC_B).cast("bigint").alias("bucket")
    )
    return materialize(
        presence.unionByName(bias)
        .withColumn("cnt", F.lit(1).cast("bigint"))
        .join(labeled.select("doc_id", "y"), "doc_id")
    )


def _pc_margins(fl: DataFrame, w: DataFrame) -> DataFrame:
    # weights are ≤ B+1 rows: broadcast; margin = Σ_b w[b]·x[b]
    return (
        fl.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("w") * F.col("cnt")).alias("s"))
    )


def _pc_train(
    fl: DataFrame, report_margins: bool = True
) -> tuple[DataFrame, list[DataFrame]]:
    """Unrolled damped-update rounds → (final weights, per-round margins).

    ``report_margins=True`` materializes each intermediate round's
    margins (the train-report query reads them twice: stats + miss) and
    returns the FINAL round's margins lazily (stats reads them once).
    ``report_margins=False`` (weights-only callers, e.g. held-out
    scoring) keeps every margins frame lazy — each is consumed exactly
    once by the miss filter — and never computes the post-final-update
    margins at all.

    Superseded round weights are released eagerly: round r+1's
    ``materialize`` consumes round r's weight blocks at build time, so
    freeing them immediately keeps the query's peak block storage O(1)
    in rounds instead of O(rounds) — materialization hygiene for the
    most checkpoint-dense query family in the registry.
    """
    w = materialize(
        fl.groupBy("bucket").agg(F.sum(F.col("y") * F.col("cnt")).alias("w"))
    )
    margins: list[DataFrame] = []
    for rnd in range(1, _PC_ROUNDS + 1):
        m = _pc_margins(fl, w)
        last = rnd == _PC_ROUNDS
        if report_margins:
            margins.append(m if last else materialize(m))
        if last:
            break
        miss = (margins[-1] if report_margins else m).filter(
            F.col("y") * F.col("s") <= 0
        ).select("doc_id")
        upd = (
            fl.join(miss, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("d"))
        )
        prev_w = w
        w = materialize(
            prev_w.join(upd, "bucket", "left").select(
                "bucket",
                (
                    F.lit(_PC_DAMP) * F.col("w")
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("w"),
            )
        )
        # the eager materialize above just consumed prev_w; no later
        # consumer reads it (margins for this round were materialized or
        # fully folded into `upd`), so free its blocks now (a no-op when
        # inside no_materialize: nothing was pinned)
        release_blocks(prev_w)
    return w, margins


# --------------------------------------------------------------------------
# The registered training query (design narrative + scale notes: see
# the "Distributed linear-model TRAINING" block above the helpers).
# Output = per-round training misclassifications and accuracy — the
# learning curve itself is hash-verified (≈50% → >94% → >98%).
# --------------------------------------------------------------------------
@_register("perceptron_weak_label_train", _pc_train_oracle())
def perceptron_weak_label_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = _pc_balanced(_pc_labels0(docs).select("doc_id", "t", "y"))
    fl = _pc_feature_frame(labels)
    _, margins = _pc_train(fl)

    def _stats(m: DataFrame, rnd: int) -> DataFrame:
        return m.agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.sum((F.col("y") * F.col("s") <= 0).cast("bigint"))
            .cast("bigint")
            .alias("n_miss"),
        ).select(
            F.lit(rnd).alias("round"),
            "n_train",
            "n_miss",
            F.expr(
                "CAST(((n_train - n_miss) * 10000) div n_train AS BIGINT)"
            ).alias("acc_bps"),
        )

    out = _stats(margins[0], 1)
    for rnd, m in enumerate(margins[1:], start=2):
        out = out.unionByName(_stats(m, rnd))
    return out.orderBy("round")


# --------------------------------------------------------------------------
# ...and the INFERENCE half: train the same model on the md5 75% split
# only, score the held-out 25% with the final broadcast weights, and
# report the out-of-sample confusion matrix — train/serve separation
# with generalization measured, not claimed (the weak label is present
# tense in the features, so held-out accuracy lands near training
# accuracy; a leaky or broken split would show up as a changed hash).
#
# Scale: training as above on the 75% pool; scoring is ONE broadcast
# join of the ≤257-row weight vector against the held-out feature frame
# plus a per-doc partial aggregate — the batch-inference shape, no
# shuffle wider than doc_id.
# --------------------------------------------------------------------------
@_register("perceptron_holdout_eval", _pc_holdout_oracle())
def perceptron_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels0 = _pc_labels0(docs)
    train_pool = labels0.filter(F.col("split_bucket") < _PC_SPLIT).select(
        "doc_id", "t", "y"
    )
    w, _ = _pc_train(
        _pc_feature_frame(_pc_balanced(train_pool)), report_margins=False
    )
    test = labels0.filter(F.col("split_bucket") >= _PC_SPLIT).select(
        "doc_id", "t", "y"
    )
    scored = _pc_margins(_pc_feature_frame(test), w)
    pos = F.col("s") > 0
    return scored.agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.sum(((F.col("y") == 1) & pos).cast("bigint"))
        .cast("bigint")
        .alias("tp"),
        F.sum(((F.col("y") == -1) & pos).cast("bigint"))
        .cast("bigint")
        .alias("fp"),
        F.sum(((F.col("y") == 1) & ~pos).cast("bigint"))
        .cast("bigint")
        .alias("fn"),
        F.sum(((F.col("y") == -1) & ~pos).cast("bigint"))
        .cast("bigint")
        .alias("tn"),
    ).select(
        "n_test",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("CAST(((tp + tn) * 10000) div n_test AS BIGINT)").alias(
            "acc_bps"
        ),
    )


# --------------------------------------------------------------------------
# Round 6 — the retrieval stack composed END-TO-END under one oracle
# gate: chunking → lexical pool (BM25) → semantic pool → RRF fusion →
# hard-negative mining for the fused survivors, reported as per-stage
# survivor counts plus a value-sensitive checksum of the mined
# negatives. Each stage is the REGISTERED operator's own pipeline (the
# oracle recomposes the registered SQL as CTEs), so this key catches
# cross-stage drift no per-operator gate can see — the curation funnel
# (dedup.curation_funnel_counts) proved the pattern; this is its
# retrieval twin.
#
# Scale: every stage inherits its operator's posture (two-phase top-k,
# broadcast query sides, integer fixed-point); the composition adds only
# per-stage COUNT aggregates and a ≤10-row anchor broadcast for the
# negative mining — nothing data-sized beyond what the stages already
# shuffle.
# --------------------------------------------------------------------------
def _register_retrieval_funnel() -> None:
    from iceberg_loader_spark.operators.similarity import _DUCK_DOT, _DUCK_FP

    oracle = f"""
    WITH chunks_raw AS ({ORACLES["chunk_documents_overlap"]}),
    {_BM25_SCORED_CTES},
    fused_raw AS ({ORACLES["hybrid_rrf_fusion"]}),
    nfp AS (
      SELECT vec_id, label,
             {_DUCK_FP.format(col='embedding')} AS e
      FROM embeddings
    ),
    nnorms AS (
      SELECT vec_id, label, e, {_DUCK_DOT.format(a='e', b='e')} AS nsq
      FROM nfp
    ),
    nanchors AS (
      -- reduce the query side BEFORE the inequality join: the join
      -- condition below is pure-inequality (nested loop in DuckDB),
      -- and an IN-subquery filter left in npairs' WHERE is NOT
      -- applied ahead of it — at the synthetic sf1 decade (20k
      -- vectors) that spelled a 20k x 20k loop over 64-dim dot
      -- products (~86 GB, 20+ min) where the anchor set is <=10 rows.
      -- The Spark twin always reduced first (fused-join + broadcast);
      -- this CTE makes the oracle's shape match it.
      SELECT * FROM nnorms
      WHERE vec_id IN (SELECT doc_id FROM fused_raw)
    ),
    npairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS neg_id,
             CAST({_DUCK_DOT.format(a='q.e', b='c.e')} AS DOUBLE)
               / (SQRT(CAST(q.nsq AS DOUBLE)) * SQRT(CAST(c.nsq AS DOUBLE)))
               AS cosine
      FROM nanchors q JOIN nnorms c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ),
    negs AS (
      SELECT q_id, neg_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, neg_id) AS rnk
        FROM npairs)
      WHERE rnk <= 3
    )
    SELECT stage, n FROM (
      SELECT '1_docs' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      UNION ALL SELECT '2_chunks', CAST(COUNT(*) AS BIGINT) FROM chunks_raw
      UNION ALL SELECT '3_lexical_pool', CAST(COUNT(*) AS BIGINT) FROM scored
      UNION ALL SELECT '4_semantic_pool', CAST(COUNT(*) AS BIGINT)
        FROM embeddings WHERE vec_id <> 0
      UNION ALL SELECT '5_fused_topk', CAST(COUNT(*) AS BIGINT) FROM fused_raw
      UNION ALL SELECT '6_in_both_channels', CAST(COUNT(*) AS BIGINT)
        FROM fused_raw WHERE in_lexical AND in_semantic
      UNION ALL SELECT '7_hard_negatives', CAST(COUNT(*) AS BIGINT) FROM negs
      UNION ALL SELECT '8_neg_id_checksum', CAST(COALESCE(SUM(neg_id), 0)
        AS BIGINT) FROM negs
    )
    ORDER BY stage
    """

    @_register("retrieval_funnel_counts", oracle)
    def retrieval_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        from iceberg_loader_spark.operators.similarity import _dot, _fixed_point

        docs = load_table(spark, sf_dir, "documents")
        chunks = chunk_documents_overlap(spark, sf_dir)
        # ONE BM25 pass feeds both the pool count and the RRF lexical
        # channel (the corpus tokenize+explode is the funnel's biggest
        # single cost; running it twice doubled it)
        lexpool = materialize(_bm25_scored(spark, sf_dir))
        emb = load_table(spark, sf_dir, "embeddings")
        fused = materialize(_rrf_fused(spark, sf_dir, scored=lexpool))
        fp = emb.select(
            "vec_id", "label", _fixed_point(F.col("embedding")).alias("e")
        ).withColumn("nsq", _dot(F.col("e"), F.col("e")))
        anchors = fp.join(
            fused.select(F.col("doc_id").alias("vec_id")), "vec_id"
        ).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("e").alias("q_e"),
            F.col("nsq").alias("q_nsq"),
        )
        npairs = fp.join(
            F.broadcast(anchors),
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") != F.col("q_label")),
        ).select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            (
                _dot(F.col("q_e"), F.col("e")).cast("double")
                / (
                    F.sqrt(F.col("q_nsq").cast("double"))
                    * F.sqrt(F.col("nsq").cast("double"))
                )
            ).alias("cosine"),
        )
        w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neg_id"))
        negs = materialize(
            npairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("q_id", "neg_id")
        )

        def _stage(name: str, frame: DataFrame, expr=None) -> DataFrame:
            agg = (expr if expr is not None else F.count("*")).cast(
                "bigint"
            ).alias("n")
            return frame.agg(agg).select(F.lit(name).alias("stage"), "n")

        rows = [
            _stage("1_docs", docs),
            _stage("2_chunks", chunks),
            _stage("3_lexical_pool", lexpool),
            _stage("4_semantic_pool", emb.filter(F.col("vec_id") != 0)),
            _stage("5_fused_topk", fused),
            _stage(
                "6_in_both_channels",
                fused.filter(F.col("in_lexical") & F.col("in_semantic")),
            ),
            _stage("7_hard_negatives", negs),
            _stage(
                "8_neg_id_checksum",
                negs,
                F.coalesce(F.sum("neg_id"), F.lit(0)),
            ),
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out.orderBy("stage")


_register_retrieval_funnel()


# --------------------------------------------------------------------------
# Round 6 — classifier CALIBRATION audit (the reliability-diagram step
# every production quality-filter deployment runs before picking a
# decision threshold): the held-out 25% is binned by the perceptron's
# raw margin into fixed-width score bins and each bin reports its
# observed positive rate — a calibrated (well, monotone) score shows
# pos_rate_bps rising with the bin index, and any future change to
# featurization / training that warps the score-probability relationship
# moves these hash-verified numbers.
#
# Scale: binning is a map-side expression on the already-computed margin
# (bin boundaries are FIXED, not quantiles — no global sort, unlike an
# NTILE reliability diagram), followed by one partial-aggregated
# groupBy over ≤13 bins. Truncating integer division is identical in
# Spark (div) and DuckDB (//) for negative operands — verified, so raw
# signed margins bin without an offset dance.
# --------------------------------------------------------------------------
_CAL_W = 250  # score-bin width (margins span roughly ±1300 at sf0.01)
_CAL_B = 6  # clamp to [-_CAL_B, _CAL_B]


def _pc_calibration_oracle() -> str:
    return (
        "\n    WITH "
        + _pc_train_ctes(f"WHERE split_bucket < {_PC_SPLIT}")
        + f""",
    test AS (
      SELECT doc_id, y FROM labels0 WHERE split_bucket >= {_PC_SPLIT}
    ),
    ttoks AS (
      SELECT d.doc_id,
             list_distinct(list_filter(string_split(lower(d.text), ' '),
                                       t -> t <> '')) AS t
      FROM documents d JOIN test l ON l.doc_id = d.doc_id
    ),
    tgrams AS (SELECT doc_id, unnest(t) AS g FROM ttoks),
    tfeats AS (
      SELECT DISTINCT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT % {_PC_B} AS bucket,
             1 AS cnt
      FROM tgrams
      UNION ALL
      SELECT doc_id, {_PC_B} AS bucket, 1 AS cnt FROM test
    ),
    ts AS (
      SELECT f.doc_id, l.y, SUM(w{_PC_ROUNDS}.w * f.cnt) AS s
      FROM tfeats f
      JOIN test l USING (doc_id)
      JOIN w{_PC_ROUNDS} USING (bucket)
      GROUP BY f.doc_id, l.y
    ),
    binned AS (
      SELECT least(greatest(s // {_CAL_W}, -{_CAL_B}), {_CAL_B}) AS bin, y
      FROM ts
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST((SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 10000) // COUNT(*)
                AS BIGINT) AS pos_rate_bps
    FROM binned GROUP BY bin ORDER BY bin
    """
    )


@_register("score_calibration_bins", _pc_calibration_oracle())
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels0 = _pc_labels0(docs)
    train_pool = labels0.filter(F.col("split_bucket") < _PC_SPLIT).select(
        "doc_id", "t", "y"
    )
    w, _ = _pc_train(
        _pc_feature_frame(_pc_balanced(train_pool)), report_margins=False
    )
    test = labels0.filter(F.col("split_bucket") >= _PC_SPLIT).select(
        "doc_id", "t", "y"
    )
    scored = _pc_margins(_pc_feature_frame(test), w)
    bin_col = F.least(
        F.greatest(F.expr(f"s div {_CAL_W}"), F.lit(-_CAL_B).cast("bigint")),
        F.lit(_CAL_B).cast("bigint"),
    )
    return (
        scored.select(bin_col.alias("bin"), "y")
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("y") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("CAST((n_pos * 10000) div n AS BIGINT)").alias(
                "pos_rate_bps"
            ),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Round 8 — INCREMENTAL BM25 index maintenance: the retrieval family's
# persisted-index steady state (the posture every fingerprint family and
# the embedding near-dup already have). The historical half's inverted
# index exists as two persisted tables — postings (doc_id, tok, tf) and
# document lengths (doc_id, dl) — and the incoming batch contributes
# ONLY its own postings/lengths; query-time scoring aggregates
# (index ∪ batch) raw counts into df / n_docs / avgdl and applies the
# identical fixed-point BM25 formula.
#
# The load-bearing property: BM25's global statistics (df, avgdl,
# n_docs) are PURE AGGREGATES OF RAW COUNTS, so the incremental
# composition reproduces the full-corpus scores BIT-FOR-BIT — this key
# registers under bm25_topk_docs' own oracle, making that equivalence
# externally hash-verified rather than claimed. (A score-caching index
# would NOT compose: every append shifts idf/avgdl for all prior docs.
# Raw-count indexes are why Lucene segments merge cheaply.)
#
# Scale: history is never re-tokenized — it costs two columnar index
# scans; the batch side tokenizes O(batch); scoring joins postings on
# the term key. Per-batch index maintenance is an append of the batch's
# (doc, tok, tf) rows, exactly the segment-write Lucene does.
# --------------------------------------------------------------------------
@_register("incremental_bm25_topk", None)
def incremental_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.operators.dedup import (
        _shared_artifact,
    )
    from iceberg_loader_spark.operators.text import _bucket_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    marked = docs.withColumn("bucket", _bucket_col())
    hist = marked.filter(F.col("bucket") < 50).drop("bucket")
    inc = marked.filter(F.col("bucket") >= 50).drop("bucket")

    def _postings(side: DataFrame) -> DataFrame:
        return (
            _token_rows(side)
            .groupBy("doc_id", "tok")
            .agg(F.count("*").cast("bigint").alias("tf"))
        )

    post_idx = _shared_artifact(
        spark, sf_dir, "bm_seed_post", lambda: _postings(hist)
    )
    dl_idx = _shared_artifact(
        spark,
        sf_dir,
        "bm_seed_dl",
        lambda: _token_rows(hist)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("dl")),
    )
    post_b = materialize(_postings(inc))
    dl_b = post_b.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    dl = materialize(dl_idx.unionByName(dl_b))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("(SUM(dl) * 1000) div COUNT(*)").alias("avgdl_m"),
    )
    qtf = materialize(
        post_idx.unionByName(post_b).filter(F.col("tok").isin(*_BM25_TERMS))
    )
    qdf = qtf.groupBy("tok").agg(F.count("*").alias("df"))
    contrib = (
        qtf.join(F.broadcast(qdf), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("idf_m", F.expr("(n_docs * 1000) div df"))
        .withColumn("norm_m", F.expr("250 + (750000 * dl) div avgdl_m"))
        .withColumn(
            "c_m",
            F.expr(
                "(idf_m * tf * 2200) div "
                "(tf * 1000 + (1200 * norm_m) div 1000)"
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum("c_m").cast("bigint").alias("bm25_m"),
        F.count("*").cast("bigint").alias("n_terms_hit"),
    )
    top = materialize(
        scored.orderBy(F.desc("bm25_m"), F.asc("doc_id")).limit(10)
    )
    ahead = top.select(
        F.col("doc_id").alias("b_doc"), F.col("bm25_m").alias("b_score")
    )
    return (
        top.join(
            F.broadcast(ahead),
            (F.col("b_score") > F.col("bm25_m"))
            | (
                (F.col("b_score") == F.col("bm25_m"))
                & (F.col("b_doc") <= F.col("doc_id"))
            ),
        )
        .groupBy("doc_id", "bm25_m", "n_terms_hit")
        .agg(F.count("*").cast("int").alias("rnk"))
        .orderBy("rnk")
    )


ORACLES["incremental_bm25_topk"] = ORACLES["bm25_topk_docs"]
