"""Table-lifecycle operators — Part A under the external oracle gate.

Every other registered query reads the testdata parquet directly; these
run the actual TABLE LAYER end-to-end inside the query (create →
append → delete / merge / incremental scan against a throwaway
warehouse) and return aggregates the DuckDB oracle recomputes from the
raw ``documents`` table. A wrong write strategy, a lost row in
copy-on-write, or a broken incremental diff turns the row red — the
ingestion path gets the same hash-checked external verification as the
query surface (it is otherwise covered only by the local pytest suite).

Scale note: the lifecycle itself is the thing under test; the payload is
the bounded ``documents`` table, so the writes are metadata-dominated —
exactly the regime where commit-protocol bugs live.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.catalog import Warehouse
from iceberg_loader_spark.tables.materialize import materialize, release_blocks
from iceberg_loader_spark.tables.table import Table

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_CREATED_ROOTS: list[str] = []


def _cleanup_roots() -> None:
    import shutil

    for root in _CREATED_ROOTS:
        shutil.rmtree(root, ignore_errors=True)


def _track_root(root: str) -> str:
    """Register a throwaway dir for removal at process exit (the atexit
    hook is installed on FIRST tracked root, whichever call site wins)."""
    import atexit

    if not _CREATED_ROOTS:
        atexit.register(_cleanup_roots)
    _CREATED_ROOTS.append(root)
    return root


def _fresh_warehouse() -> Warehouse:
    # a throwaway root per invocation (tens of KB); removed at process
    # exit — the scan the query returns is collected before then
    return Warehouse(_track_root(tempfile.mkdtemp(prefix="ils_lifecycle_")))


# --------------------------------------------------------------------------
# A7 + A14 — append then predicate delete, verified by content: the
# surviving per-language row counts and character sums must equal the
# oracle's filtered aggregate over the source parquet. Exercises create,
# schema handling, the partition-less write path, file-level
# copy-on-write delete, and scan — any lost or duplicated row flips a
# count.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_append_delete_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang <> 'de'
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_append_delete_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs)
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'de'")
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A10 — MERGE correctness by content: upsert doubles n_chars for 'en'
# docs (update-if-different) and inserts one synthetic row; the oracle
# replays the same arithmetic over the source. File-granular
# copy-on-write means untouched languages ride through byte-identical.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_merge_upsert_counts",
    """
    WITH merged AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END
               AS n_chars
      FROM documents
      UNION ALL
      SELECT -1 AS doc_id, 'xx' AS lang, 7 AS n_chars
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM merged
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_merge_upsert_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    # bounded file count: the merge's file-location pass and rewrite are
    # per-file; 4 files keeps the lifecycle metadata-dominated at any SF
    t.append(docs.coalesce(4))
    t = wh.load_table("db.docs")
    src = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    new_row = spark.createDataFrame([(-1, "xx", 7)], docs.schema)
    t.merge(spark, src.unionByName(new_row), ["doc_id"])
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# B1 incremental — two appends split by doc_id parity; the incremental
# scan between the versions must return EXACTLY the second batch, never
# rescanning the first. The oracle recomputes the odd-doc aggregate from
# the source.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_incremental_scan_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id % 2 = 1
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_incremental_scan_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    t = wh.load_table("db.docs")
    base = t.meta.current_version()
    t.append(docs.filter(F.col("doc_id") % 2 == 1))
    t = wh.load_table("db.docs")
    return (
        t.scan_incremental(spark, base)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Streaming table tail (Iceberg streaming-read shape) under the oracle:
# three appends land as three commits; a TableTailReader pulled between
# commits must return EXACTLY each delta (never rescanning the base), and
# the union of all pulled micro-batches must equal the full table — which
# the oracle recomputes from the source parquet. A tail that drops,
# duplicates, or re-reads rows flips the per-language aggregate.
# --------------------------------------------------------------------------
@_register(
    "stream_table_tail_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           3 AS n_batches
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def stream_table_tail_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.streaming.source import TableTailReader

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    reader = TableTailReader(t, from_version=t.meta.current_version())
    batches: list[DataFrame] = []
    for m in range(3):
        t.append(docs.filter(F.col("doc_id") % 3 == m))
        nxt = reader.next_batch(spark)
        assert nxt is not None, "tail missed a committed append"
        batches.append(nxt)
    assert reader.next_batch(spark) is None, "tail not caught up"
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    return (
        union.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.lit(len(batches)).alias("n_batches"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A14 merge-on-read variant under the oracle: a MoR delete (predicate
# recorded, zero rewrite) followed by an append of rows that MATCH the
# predicate — the scan must hide pre-delete matches by sequence number
# while keeping the later append intact. The oracle replays the visible
# set from the source table. Wrong sequence bookkeeping (predicate
# applied to new files, or not applied to old ones) flips the counts.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_mor_delete_counts",
    """
    WITH visible AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'de'
      UNION ALL
      SELECT doc_id, lang, n_chars FROM documents
      WHERE lang = 'de' AND doc_id % 2 = 0
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM visible
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_mor_delete_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs)
    t.delete_where(spark, "lang == 'de'", mode="mor")  # zero rewrite
    # post-delete append deliberately matches the predicate: sequence
    # numbers must keep these rows visible
    t.append(docs.filter((F.col("lang") == "de") & (F.col("doc_id") % 2 == 0)))
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A10 merge-on-read variant under the oracle: the SAME upsert contract as
# lifecycle_merge_upsert_counts (double n_chars for 'en', insert one
# synthetic row) executed through the write-optimized path — new data
# files + one equality-delete file, target never read. The scan's
# anti-join against the key file must reproduce the identical visible
# set the oracle recomputes from the source.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_mor_merge_counts",
    """
    WITH merged AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END
               AS n_chars
      FROM documents
      UNION ALL
      SELECT -1 AS doc_id, 'xx' AS lang, 7 AS n_chars
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM merged
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_mor_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.coalesce(4))
    src = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    new_row = spark.createDataFrame([(-1, "xx", 7)], docs.schema)
    t.merge(spark, src.unionByName(new_row), ["doc_id"], mode="mor")
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# B1 CDC under the oracle: append → CoW delete → CoW merge, then read the
# row-level changelog across the whole range and aggregate it. The
# changelog must contain EXACTLY: one 'delete' per 'de' row (the delete
# commit), a delete+insert pair per 'en' row (the merge's
# update-if-different rewrite — carried-over rows of rewritten files must
# cancel), and one 'insert' for the synthetic row. The oracle recomputes
# the expected change set from the source table directly.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_cdc_counts",
    """
    WITH ch AS (
      SELECT 'delete' AS change_type, lang, n_chars
      FROM documents WHERE lang = 'de'
      UNION ALL
      SELECT 'delete', lang, n_chars FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT 'insert', lang, n_chars * 2 FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT 'insert', 'xx', 7
    )
    SELECT change_type, lang,
           COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM ch
    GROUP BY change_type, lang
    ORDER BY change_type, lang
    """,
)
def lifecycle_cdc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.coalesce(4))
    base = t.meta.current_version()
    t.delete_where(spark, "lang == 'de'")
    src = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    new_row = spark.createDataFrame([(-1, "xx", 7)], docs.schema)
    t.merge(spark, src.unionByName(new_row), ["doc_id"])
    t = wh.load_table("db.docs")
    return (
        t.changes(spark, base)
        .groupBy(F.col("_change_type").alias("change_type"), "lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("change_type", "lang")
    )


# --------------------------------------------------------------------------
# CDC replication under the oracle: source table takes a delete + an
# upsert; the changelog is replayed onto an initially-synced replica via
# apply_changelog (MoR merge + delete_by_keys); the REPLICA's aggregate
# must equal the oracle's recomputation of the source's final state. A
# wrong winner per key, a lost delete, or a leaked old row version flips
# the counts.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_replication_counts",
    """
    WITH final AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END
               AS n_chars
      FROM documents
      WHERE lang <> 'de'
      UNION ALL
      SELECT -1, 'xx', 7
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM final
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_replication_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.replication import apply_changelog

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    src = Table.create(wh, "db.src", docs.schema)
    src.append(docs.coalesce(4))
    base = src.meta.current_version()
    replica = Table.create(wh, "db.rep", docs.schema)
    replica.append(docs.coalesce(4))

    src.delete_where(spark, "lang == 'de'")
    upd = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    new_row = spark.createDataFrame([(-1, "xx", 7)], docs.schema)
    src.merge(spark, upd.unionByName(new_row), ["doc_id"])

    apply_changelog(
        spark, replica, src.changes(spark, base), ["doc_id"]
    )
    replica = wh.load_table("db.rep")
    return (
        replica.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Write-audit-publish under the oracle: half the corpus lands directly,
# the other half goes through a WAP stage — audited with quality.Check
# on the SHADOW (not-null + accepted languages must pass before
# publish), then published as one atomic fast-forward append. The final
# aggregate must equal the full-corpus aggregate; a stage that leaks
# early, loses rows at publish, or double-publishes flips the counts.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_wap_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_wap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.quality import Check

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 2 == 0))

    stage = t.begin_wap()
    stage.append(docs.filter(F.col("doc_id") % 2 == 1))
    # the audit step: gate the publish on the STAGED state
    report = (
        Check()
        .not_null("doc_id", "lang")
        .non_negative("n_chars")
        .run(stage.scan(spark))
    )
    assert report.filter(~F.col("passed")).count() == 0, "audit failed"
    t.publish_wap(stage)

    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A14/B1 — bloom-assisted MoR delete under the oracle: two appends with
# fully-overlapping doc_id ranges (even ids, then odd ids — range stats
# alone can never separate the files), write.bloom.keys active, then a
# small delete_by_keys of even ids. The scan must hide exactly the
# deleted keys: a bloom that wrongly SKIPS a file resurrects rows and
# flips a count; the pytest suite (tests/test_bloom_skip.py) separately
# asserts the odd-id file IS skipped, so the fast path is the one under
# this gate, not a silent fallback.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_bloom_skip_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE NOT (doc_id % 2 = 0 AND doc_id < 20)
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_bloom_skip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(
        wh,
        "db.docs",
        docs.schema,
        properties={"write.bloom.keys": "doc_id"},
    )
    # interleaved id ranges: every file overlaps every delete's key range
    t.append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(1))
    t.append(docs.filter(F.col("doc_id") % 2 == 1).coalesce(1))
    keys = docs.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)
    ).select("doc_id")
    t.delete_by_keys(spark, keys, ["doc_id"])
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A14/B1 — positional-delete MoR under the oracle (Iceberg v2's second
# delete shape): predicate evaluated once at delete time, matching rows'
# (file, pos) lineage recorded in a delete file, the scan anti-joins on
# lineage. A post-delete append of predicate-matching rows pins the
# position semantics: positions never cover rows that did not exist at
# delete time, so those rows must stay visible — a predicate-replay
# implementation would (wrongly) hide them and flip the counts.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_pos_delete_counts",
    """
    WITH visible AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE NOT (lang = 'en' AND doc_id % 3 = 0)
      UNION ALL
      SELECT doc_id, lang, n_chars FROM documents
      WHERE lang = 'en' AND doc_id % 3 = 0 AND doc_id % 2 = 0
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM visible
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_pos_delete_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.coalesce(2))
    # the % term is not metadata-provable, so every file is a candidate
    # and the delete goes through the positional path (positions written,
    # no full-file drop)
    t.delete_where(spark, "lang == 'en' and doc_id % 3 == 0", mode="mor-pos")
    # post-delete append deliberately matches the predicate: positions
    # must not cover rows that did not exist at delete time
    t.append(
        docs.filter(
            (F.col("lang") == "en")
            & (F.col("doc_id") % 3 == 0)
            & (F.col("doc_id") % 2 == 0)
        )
    )
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Partition-spec evolution under the oracle gate (Iceberg's ADD PARTITION
# FIELD): half the corpus is written unpartitioned, the spec then evolves
# to identity(lang), the second half lands partitioned, and a predicate
# delete runs across the MIXED layouts (old files have no partition
# values and must be conservatively scanned; new files prune by value).
# The surviving per-language aggregate equals the oracle's — a pruning
# bug that skips an old-spec file, or applies the new spec
# retroactively, flips a count.
#
# Scale: spec evolution is a metadata-only commit (no rewrite — the
# whole point at 100 TB); the delete's file-candidate set is bounded by
# partition pruning on the new-spec files.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_partition_evolution_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang <> 'fr'
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_partition_evolution_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.partitioning import PartitionField

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("doc_id") <= half).coalesce(2))
    t = wh.load_table("db.docs")
    t.set_partition_spec([PartitionField(transform="identity", source="lang")])
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("doc_id") > half))
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'fr'")
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A35 + A32 under the oracle gate — compaction then snapshot expiry:
# four single-file appends and a copy-on-write delete leave a fragmented
# table; rewrite_data_files coalesces it to exactly 2 files and
# expire_snapshots(keep_last=2) drops the old metadata — after which the
# CONTENT must still equal the oracle's filtered aggregate and the file/
# snapshot counts must equal the literals. A compaction that loses or
# duplicates rows, or an expiry that deletes a still-referenced file,
# flips a value.
#
# Scale: compaction is THE small-file fix at 100 TB (the reference's
# north-star maintenance op); expiry bounds metadata growth. Both are
# metadata-planned — file lists, never row scans, on the driver.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_compaction_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           2 AS n_files_after,
           2 AS n_snapshots_retained
    FROM documents
    WHERE lang <> 'de'
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_compaction_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import (
        expire_snapshots,
        rewrite_data_files,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    for i in range(4):  # fragment: one file per append
        t = wh.load_table("db.docs")
        t.append(docs.filter(F.col("doc_id") % 4 == i).coalesce(1))
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'de'")
    t = wh.load_table("db.docs")
    rewrite_data_files(t, spark, target_files=2)
    t = wh.load_table("db.docs")
    expire_snapshots(t, keep_last=2)
    t = wh.load_table("db.docs")
    n_files = len(t.snapshot().files)
    n_snaps = len(t.history())
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("n_files_after", F.lit(n_files))
        .withColumn("n_snapshots_retained", F.lit(n_snaps))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# B1 time travel under the oracle gate: the same table scanned at the
# pre-delete version AND at the current version in one result — the
# 'v1' rows must show the full corpus, the 'current' rows the survivors.
# A time-travel read that resolves to the wrong snapshot (or a delete
# that rewrites history) flips a row.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_time_travel_counts",
    """
    SELECT 'v1' AS state, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'current' AS state, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang <> 'zh' GROUP BY lang
    ORDER BY state, lang
    """,
)
def lifecycle_time_travel_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs)
    t = wh.load_table("db.docs")
    v1 = t.meta.current_version()
    t.delete_where(spark, "lang == 'zh'")
    t = wh.load_table("db.docs")

    def _agg(df, state):
        return (
            df.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(state).alias("state"), "*")
        )

    return (
        _agg(t.scan(spark, version=v1), "v1")
        .unionByName(_agg(t.scan(spark), "current"))
        .orderBy("state", "lang")
    )


# --------------------------------------------------------------------------
# A35 Z-order rewrite under the oracle gate: events (doc-id-free numeric
# table) written fragmented, then Z-order-compacted on (user_id, value
# cents) into 4 files. Content must survive byte-exact AND the rewrite
# must actually tighten per-file ranges: the query emits, alongside the
# per-type aggregate, the number of files a user_id point-lookup may
# touch after the rewrite — asserted strictly fewer than all files.
# Without the Morton interleave the lookup would touch all 4 files.
#
# Scale: Z-order is the multi-column pruning lever for unpartitioned
# 100 TB tables — point/range predicates on ANY clustered column prune
# to ~n^((d-1)/d) files. The check here reads ONLY file metadata
# (min/max stats), the same planning path a real scan uses.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_zorder_counts",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           4 AS n_files_after,
           TRUE AS user_probe_prunes
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def lifecycle_zorder_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.tables.filters import prune_files
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.ev", ev.schema)
    for i in range(4):  # fragment with interleaved users per file
        t = wh.load_table("db.ev")
        t.append(ev.filter(F.col("event_id") % 4 == i).coalesce(1))
    t = wh.load_table("db.ev")
    rewrite_data_files(t, spark, zorder_by=["user_id", "cents"], target_files=4)
    t = wh.load_table("db.ev")
    files = t.snapshot().files
    n_files = len(files)
    # metadata-only probe: a user_id point-lookup must NOT touch every
    # file once the Z-order clustering has tightened per-file ranges
    may, _ = prune_files("user_id == 7", files, t.partition_spec())
    probe_prunes = len(may) < n_files
    return (
        t.scan(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .withColumn("n_files_after", F.lit(n_files))
        .withColumn("user_probe_prunes", F.lit(probe_prunes))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# A32-adjacent — tag refs as retention pins (reference keeps snapshots
# only by count/age; tags are the Spark-side extension that makes a
# released dataset version immortal): three appends, tag the middle
# version, expire to keep_last=1 — the tagged snapshot MUST survive
# while its untagged siblings expire, and time travel through the tag
# must return exactly the first two commits' rows. The oracle replays
# both row sets from the source parquet, and pins the deterministic
# snapshot accounting (3 expired — create, first append, and the
# set-ref commit itself; 2 surviving — tagged + current) as literal
# rows — a
# retention bug (tag expired, or nothing expired) flips a count or
# errors the scan outright.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_tag_retention_counts",
    """
    SELECT 'current' AS ref, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT 'tag_release' AS ref, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang IN ('en', 'fr', 'de')
    GROUP BY lang
    UNION ALL
    SELECT 'maintenance' AS ref, 'snapshots' AS lang,
           3 AS n_docs, 2 AS sum_chars
    ORDER BY ref, lang
    """,
)
def lifecycle_tag_retention_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import expire_snapshots

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("lang").isin("en", "fr")))
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("lang") == "de"))
    t = wh.load_table("db.docs")
    t.set_tag("release")
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("lang").isin("es", "zh")))
    t = wh.load_table("db.docs")
    report = expire_snapshots(t, keep_last=1)
    t = wh.load_table("db.docs")

    def _agg(df: DataFrame, ref: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(ref).alias("ref"), "lang", "n_docs", "sum_chars")
        )

    maint = spark.createDataFrame(
        [("maintenance", "snapshots", report["expired"], report["remaining"])],
        "ref string, lang string, n_docs long, sum_chars long",
    )
    return (
        _agg(t.scan(spark), "current")
        .unionByName(_agg(t.scan(spark, tag="release"), "tag_release"))
        .unionByName(maint)
        .orderBy("ref", "lang")
    )


# --------------------------------------------------------------------------
# A28 under the external oracle gate — schema evolution mid-table: the
# first append writes (doc_id, lang, n_chars:int); the column is then
# PROMOTED int→long (metadata-only — old files keep the narrow physical
# type, the reader up-casts at scan) and a new nullable n_tokens column
# is ADDED; the second append writes the evolved schema. The final scan
# must read both file generations through ONE schema: promoted ints
# up-cast, pre-evolution rows surface NULL n_tokens. The oracle replays
# the arithmetic and the NULL accounting from the source parquet — a
# reader that drops old files, misses the up-cast, or fills wrong
# defaults flips a count.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_schema_evolution_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_null_tokens,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 97 END)
                AS BIGINT) AS sum_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_schema_evolution_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    narrow = docs.withColumn("n_chars", F.col("n_chars").cast("int"))
    t = Table.create(wh, "db.docs", narrow.schema)
    t.append(narrow.filter(F.col("doc_id") % 2 == 0))
    t = wh.load_table("db.docs")
    t.promote_column_type("n_chars", T.LongType())
    t = wh.load_table("db.docs")
    t.add_columns([T.StructField("n_tokens", T.LongType())])
    t = wh.load_table("db.docs")
    evolved = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "n_tokens", F.col("n_chars") % 97
    )
    t.append(evolved)
    t = wh.load_table("db.docs")
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            (F.count("*") - F.count("n_tokens")).alias("n_null_tokens"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# A37-adjacent — the commit-lineage audit (Iceberg's `history` metadata
# table): after a deterministic create → append → MoR delete → merge
# sequence, the table's snapshot log must read back as exactly that
# operation sequence with the expected row count at each version. The
# oracle pins the lineage as literal rows and recomputes the per-version
# row counts from the source parquet — a mislabeled operation, a skipped
# version, or a time-travel scan reading the wrong snapshot flips a row.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_history_audit",
    """
    WITH v(version, operation) AS (
      VALUES (1, 'create'), (2, 'append'), (3, 'delete'), (4, 'merge')
    ),
    n AS (
      SELECT
        (SELECT COUNT(*) FROM documents) AS n_all,
        (SELECT COUNT(*) FROM documents WHERE lang <> 'de') AS n_nodel
    )
    SELECT version, operation,
           CASE version
             WHEN 1 THEN 0
             WHEN 2 THEN n_all
             WHEN 3 THEN n_nodel
             WHEN 4 THEN n_nodel + 1
           END AS n_rows
    FROM v, n
    ORDER BY version
    """,
)
def lifecycle_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.coalesce(4))
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'de'", mode="mor")
    t = wh.load_table("db.docs")
    new_row = spark.createDataFrame([(-1, "xx", 7)], docs.schema)
    t.merge(spark, new_row, ["doc_id"])
    t = wh.load_table("db.docs")
    rows = [
        (s.version, s.operation, t.scan(spark, version=s.version).count())
        for s in sorted(t.history(), key=lambda s: s.version)
    ]
    return spark.createDataFrame(
        rows, "version int, operation string, n_rows long"
    ).orderBy("version")


# --------------------------------------------------------------------------
# Rollback (Iceberg's rollback_to_snapshot) under the oracle gate: a
# "bad" batch lands, the table is rolled back (a NEW snapshot restoring
# the old file set — history stays append-only), and writes continue on
# top. Verified by content on three refs at once: the current scan
# (good rows + post-rollback append, zero bad rows), time travel INTO
# the bad snapshot (the bad batch must still be visible until expiry),
# and the rollback snapshot's operation label.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_rollback_counts",
    """
    SELECT 'current' AS ref, lang, COUNT(*) AS n_docs
    FROM (
      SELECT lang FROM documents
      UNION ALL
      SELECT 'xx' AS lang
    )
    GROUP BY lang
    UNION ALL
    SELECT 'v_bad' AS ref, 'bad' AS lang, 5 AS n_docs
    UNION ALL
    SELECT 'op' AS ref, 'rollback' AS lang, 1 AS n_docs
    ORDER BY ref, lang
    """,
)
def lifecycle_rollback_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs)
    t = wh.load_table("db.docs")
    v_good = t.meta.current_version()
    bad = spark.createDataFrame(
        [(10_000_000 + i, "bad", 1) for i in range(5)], docs.schema
    )
    t.append(bad)
    t = wh.load_table("db.docs")
    v_bad = t.meta.current_version()
    t.rollback(v_good)
    t = wh.load_table("db.docs")
    op = t.snapshot().operation
    t.append(spark.createDataFrame([(-1, "xx", 7)], docs.schema))
    t = wh.load_table("db.docs")
    current = (
        t.scan(spark)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select(F.lit("current").alias("ref"), "lang", "n_docs")
    )
    bad_tt = (
        t.scan(spark, version=v_bad)
        .filter(F.col("lang") == "bad")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select(F.lit("v_bad").alias("ref"), "lang", "n_docs")
    )
    op_row = spark.createDataFrame(
        [("op", op, 1)], "ref string, lang string, n_docs long"
    )
    return current.unionByName(bad_tt).unionByName(op_row).orderBy(
        "ref", "lang"
    )


# --------------------------------------------------------------------------
# Streaming micro-batch MERGE — the foreachBatch-upsert pattern: the
# event log replays as four time-ordered micro-batches, each batch
# collapses to one row per user (latest ts wins) and MERGE-upserts into
# a user-state table. After the replay the table must hold exactly each
# user's final state — a duplicate insert, a lost update, or a batch
# applied out of order flips rows the oracle computes with one window
# over the raw log. Exercises A10 (file-granular CoW merge) under
# repeated small-source merges, the exact shape a streaming sink
# produces.
#
# Scale: per batch the merge source is one row per active user; CoW
# rewrites only files containing matched keys. At real scale the state
# table clusters by user_id so each micro-batch touches O(active-user
# files), not the whole table.
# --------------------------------------------------------------------------
@_register(
    "stream_merge_user_state",
    """
    SELECT user_id,
           event_type AS state,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def stream_merge_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event log as 4 time-ordered micro-batches, each
    MERGE-upserting per-user latest state; the final table must equal
    one last-event-per-user window over the whole log."""
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias(
            "value_cents"
        ),
        "ts",
        "event_id",
    )
    # deterministic time-ordered micro-batches (calendar weeks of Jan)
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    ev = ev.withColumn("batch", F.least(F.floor(day / 8), F.lit(3)))
    wh = _fresh_warehouse()
    state_schema = ev.drop("batch", "event_id").schema
    t = Table.create(wh, "db.user_state", state_schema)
    w = _W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    for b in range(4):
        src = (
            ev.filter(F.col("batch") == b)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "batch", "event_id")
            # one row per active user — a single file per micro-batch
            # keeps the CoW rewrite set O(1) files instead of O(shuffle
            # partitions) tiny files that every later merge must rewrite
            .coalesce(1)
        )
        t.merge(spark, src, ["user_id"])
    final = wh.load_table("db.user_state").scan(spark)
    return final.select(
        "user_id",
        "state",
        "value_cents",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Incremental cross-batch dedup against a persisted fingerprint table —
# the PRODUCTION dedup shape: yesterday's corpus keeps its md5
# fingerprints in a table; today's batch anti-joins against it, and only
# novel documents land. Exercises the dedup and table layers composing:
# fp table append → scan → anti-join → survivor append → content counts.
# The historical/incoming split is the same md5(doc_id) bucketing the
# dataset-split operator uses, so the oracle replays it exactly.
#
# Scale: the fp table carries (fp, doc_id) only — 16 bytes/row of
# shuffle; the anti-join partitions both sides on fp. At 100 TB the fp
# table is the persisted artifact that makes per-batch dedup O(batch),
# never O(corpus re-hash).
# --------------------------------------------------------------------------
@_register(
    "lifecycle_incremental_dedup_counts",
    """
    WITH bucketed AS (
      SELECT doc_id, lang, text,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    ),
    hist AS (SELECT * FROM bucketed WHERE bucket < 50),
    incoming AS (SELECT * FROM bucketed WHERE bucket >= 50),
    novel AS (
      SELECT i.* FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE MD5(h.text) = MD5(i.text))
    )
    SELECT lang,
           CAST((SELECT COUNT(*) FROM incoming b
                 WHERE b.lang = x.lang) AS BIGINT) AS n_incoming,
           CAST(COUNT(*) AS BIGINT) AS n_landed,
           CAST((SELECT COUNT(*) FROM incoming b
                 WHERE b.lang = x.lang) - COUNT(*) AS BIGINT) AS n_dups
    FROM novel x
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_incremental_dedup_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.operators.text import _bucket_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    bucketed = docs.withColumn("bucket", _bucket_col())
    hist = bucketed.filter(F.col("bucket") < 50)
    incoming = bucketed.filter(F.col("bucket") >= 50)

    wh = _fresh_warehouse()
    fps = hist.select("doc_id", F.md5("text").alias("fp"))
    fp_table = Table.create(wh, "db.fps", fps.schema)
    fp_table.append(fps)

    known = wh.load_table("db.fps").scan(spark).select("fp")
    novel = incoming.withColumn("fp", F.md5("text")).join(
        known, "fp", "left_anti"
    )
    corpus = Table.create(
        wh, "db.corpus", novel.drop("fp", "bucket").schema
    )
    corpus.append(novel.drop("fp", "bucket"))

    landed = wh.load_table("db.corpus").scan(spark)
    per_lang_in = incoming.groupBy("lang").agg(
        F.count("*").alias("n_incoming")
    )
    return (
        landed.groupBy("lang")
        .agg(F.count("*").alias("n_landed"))
        .join(F.broadcast(per_lang_in), "lang")
        .select(
            "lang",
            "n_incoming",
            "n_landed",
            (F.col("n_incoming") - F.col("n_landed")).alias("n_dups"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# The NATIVE streaming sink under the oracle: documents stream through
# `writeStream.format("sparkberg")` (two micro-batches via
# maxFilesPerTrigger) into a fresh table, and the query returns the
# landed per-language aggregate read back through the ENGINE scan — the
# oracle recomputes it from the source parquet. A sink that drops,
# duplicates, or re-lands a micro-batch flips the counts; the batch-id
# marker must equal the number of committed micro-batches.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_stream_sink_counts",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def lifecycle_stream_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents streamed through the native sparkberg sink land exactly
    once; the per-language aggregate is read back through the engine."""
    import tempfile as _tf

    from iceberg_loader_spark.sources.spark_datasource import register

    register(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    src = _track_root(_tf.mkdtemp(prefix="ils_sink_src_"))
    docs.repartition(2).write.mode("overwrite").parquet(src)
    wh = _fresh_warehouse()
    root = wh.table_root("db.docs_sink")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("sparkberg")
        .option("checkpointLocation", f"{src}/_ckpt")
        .start(root)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = Table(wh, "db.docs_sink")
    last_batch = int(
        t.properties()["streaming.sparkberg-writer.default.last-batch-id"]
    )
    assert last_batch >= 1, "sink committed fewer micro-batches than fed"
    return (
        t.scan(spark)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Exactly-once streaming FAN-OUT under the oracle: one micro-batched
# document stream routed to TWO tables (short docs / long docs) through
# FanOutSink — each route an IdempotentTableSink with its own batch-id
# marker. The query replays the LAST batch by hand after the stream
# stops (foreachBatch's at-least-once recovery contract) and asserts
# both routes skipped it, then returns per-route counts read back
# through the engine scans; the oracle recomputes them from the source
# parquet. A route that drops, duplicates, or mis-predicates a batch
# flips the counts.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_stream_fanout_counts",
    """
    WITH routes AS (SELECT 'short' AS route UNION ALL SELECT 'long'),
    agg AS (
      SELECT CASE WHEN n_chars < 300 THEN 'short' ELSE 'long' END AS route,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY route
    )
    -- both route rows emitted unconditionally (0 docs / NULL sum for an
    -- empty route) to mirror the engine, which always scans both sink
    -- tables — a bare GROUP BY would drop the empty route's row
    SELECT r.route, COALESCE(a.n_docs, 0) AS n_docs, a.sum_chars
    FROM routes r LEFT JOIN agg a USING (route)
    ORDER BY route
    """,
)
def lifecycle_stream_fanout_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-routed dual-sink streaming ingest, each route exactly-once."""
    from iceberg_loader_spark.streaming import FanOutSink, IdempotentTableSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    src = _track_root(tempfile.mkdtemp(prefix="ils_fanout_src_"))
    docs.repartition(2).write.mode("overwrite").parquet(src)
    wh = _fresh_warehouse()
    short_sink = IdempotentTableSink(wh, "db.docs_short")
    long_sink = IdempotentTableSink(wh, "db.docs_long")
    fanout = FanOutSink(
        [
            (lambda df: df.filter(F.col("n_chars") < 300), short_sink),
            (lambda df: df.filter(F.col("n_chars") >= 300), long_sink),
        ]
    )
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fanout)
        .option("checkpointLocation", f"{src}/_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # replay the last committed batch: both routes must detect and skip
    last = int(
        wh.load_table("db.docs_short").properties()[
            "streaming.default.last-batch-id"
        ]
    )
    fanout(docs, last)
    # explicit raise, not assert: the exactly-once replay invariant must
    # survive `python -O` (asserts are stripped under optimization)
    if short_sink.skipped_batches < 1 or long_sink.skipped_batches < 1:
        raise RuntimeError("replayed micro-batch was not skipped by every route")
    short = (
        Table(wh, "db.docs_short")
        .scan(spark)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(F.lit("short").alias("route"), "n_docs", "sum_chars")
    )
    long_ = (
        Table(wh, "db.docs_long")
        .scan(spark)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(F.lit("long").alias("route"), "n_docs", "sum_chars")
    )
    return short.unionByName(long_).orderBy("route")


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance (DBSP / Materialize shape,
# Iceberg-style "MV refresh from table changes"): a per-supplier sales
# aggregate MV is built ONCE from the base load, then kept current by
# applying ONLY the delta aggregate of each incremental append — the MV
# is never recomputed from the full table. The returned MV contents are
# hash-verified against the oracle's full recompute, so a wrong delta
# (dropped increment, double-applied batch, missed new key) flips a sum.
#
# Scale: each refresh costs O(|delta| + |affected MV keys|), not
# O(|table|): the delta aggregate is a partial-agg shuffle over the new
# files only (scan_incremental reads just the appended files), the
# current MV is semi-filtered to affected keys with a BROADCAST of the
# delta's key set before the combine join, and merge() rewrites only the
# MV files containing those keys. At 100 TB of sales history with a
# bounded per-batch delta, refresh cost is flat.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_incremental_mv_counts",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents,
           2 AS n_increments
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def lifecycle_incremental_mv_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("l_suppkey").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    wh = _fresh_warehouse()
    t = Table.create(wh, "db.sales", li.schema)
    t.append(li.filter(F.col("l_orderkey") % 3 == 0))
    mv_df = _agg(wh.load_table("db.sales").scan(spark))
    Table.create(wh, "db.mv", mv_df.schema).append(mv_df)

    for r in (1, 2):
        t = wh.load_table("db.sales")
        base = t.meta.current_version()
        t.append(li.filter(F.col("l_orderkey") % 3 == r))
        delta = _agg(
            wh.load_table("db.sales").scan_incremental(spark, base)
        )
        apply_mv_delta(
            spark, wh, "db.mv", delta, "l_suppkey",
            ("n_rows", "sum_qty", "sum_cents"),
        )

    return (
        wh.load_table("db.mv")
        .scan(spark)
        .withColumn("n_increments", F.lit(2))
        .orderBy("l_suppkey")
    )


def apply_mv_delta(
    spark: SparkSession,
    wh: Warehouse,
    mv_name: str,
    delta: DataFrame,
    key: str,
    val_cols: tuple[str, ...],
) -> None:
    """Apply a signed per-key delta aggregate to a materialized-view table.

    ``delta`` carries one row per affected key with signed additive values
    (first of ``val_cols`` must be the row count). Keys whose count reaches
    zero are removed from the MV (delete_by_keys); the rest upsert via
    merge(). Touches only affected keys: the current MV is semi-filtered
    with a BROADCAST of the delta's key set before the combine join.
    """
    mv = wh.load_table(mv_name)
    cur_aff = mv.scan(spark).join(
        F.broadcast(delta.select(key)), key, "left_semi"
    )
    # materialize once: the delta is typically a changes() changelog —
    # without this the zero-check, the key delete, and the merge would
    # each replay the whole changelog pipeline (and its compounded
    # lineage would ride every downstream task binary)
    combined = materialize(
        delta.alias("d")
        .join(cur_aff.alias("c"), key, "left")
        .select(
            key,
            *[
                (
                    F.coalesce(F.col(f"c.{c}"), F.lit(0)) + F.col(f"d.{c}")
                ).cast("bigint").alias(c)
                for c in val_cols
            ],
        )
    )
    try:
        n_col = val_cols[0]
        zeroed = combined.filter(F.col(n_col) <= 0)
        if zeroed.limit(1).count() > 0:
            mv.delete_by_keys(spark, zeroed.select(key), [key])
            mv = wh.load_table(mv_name)
        mv.merge(spark, combined.filter(F.col(n_col) > 0), [key])
    finally:
        release_blocks(combined)


# --------------------------------------------------------------------------
# MV maintenance from a SIGNED changelog (the general DBSP z-set form —
# the append-only refresh above is the special case): after the MV is
# built, the sales table takes an append AND a copy-on-write predicate
# DELETE; one changes() read over both commits yields +1/-1 signed rows,
# whose per-key signed aggregate is applied to the MV — keys whose count
# reaches zero are removed via delete_by_keys, the rest merge. The final
# MV is hash-verified against the oracle's full recompute of
# (batch0 ∪ batch1) minus the deleted rows.
#
# Scale: changes() reads only the churned files of each commit (carried
# CoW rows cancel in the per-commit multiset diff), the signed delta is
# one partial-agg shuffle over that churn, and the MV combine touches
# only affected keys (broadcast key semi-join) — refresh cost tracks the
# churn, never the 100 TB table, and never the MV's full key space.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_mv_cdc_refresh_counts",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents,
           2 AS n_increments
    FROM lineitem
    WHERE (l_orderkey % 3) IN (0, 1)
      AND CAST(l_quantity AS BIGINT) < 45
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def lifecycle_mv_cdc_refresh_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )

    def _signed_agg(df: DataFrame, sign: F.Column) -> DataFrame:
        return df.groupBy("l_suppkey").agg(
            F.sum(sign).cast("bigint").alias("n_rows"),
            F.sum(sign * F.col("qty")).cast("bigint").alias("sum_qty"),
            F.sum(sign * F.col("cents")).cast("bigint").alias("sum_cents"),
        )

    wh = _fresh_warehouse()
    t = Table.create(wh, "db.sales", li.schema)
    t.append(li.filter(F.col("l_orderkey") % 3 == 0))
    mv_df = _signed_agg(wh.load_table("db.sales").scan(spark), F.lit(1))
    Table.create(wh, "db.mv", mv_df.schema).append(mv_df)

    t = wh.load_table("db.sales")
    base = t.meta.current_version()
    t.append(li.filter(F.col("l_orderkey") % 3 == 1))
    t = wh.load_table("db.sales")
    t.delete_where(spark, "qty >= 45")
    t = wh.load_table("db.sales")

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = _signed_agg(t.changes(spark, base), sign).filter(
        (F.col("n_rows") != 0)
        | (F.col("sum_qty") != 0)
        | (F.col("sum_cents") != 0)
    )
    apply_mv_delta(
        spark, wh, "db.mv", delta, "l_suppkey",
        ("n_rows", "sum_qty", "sum_cents"),
    )

    return (
        wh.load_table("db.mv")
        .scan(spark)
        .withColumn("n_increments", F.lit(2))
        .orderBy("l_suppkey")
    )


# --------------------------------------------------------------------------
# Secondary value index (Hudi metadata-table / record-index shape): a
# point lookup on a NON-partition key normally touches every file —
# min/max zone maps are useless when each file's key range spans the
# domain (interleaved layout below). The index is itself a warehouse
# TABLE mapping key → file, so it is snapshot-versioned and maintained
# INCREMENTALLY: the post-build append indexes only the new file
# (scan_incremental), never re-scanning the table. The probe consults
# the index, reads only the matched files, and the per-user aggregates
# are hash-verified; one probe user lives exclusively in the
# incrementally-indexed file, so a stale index loses that user's rows
# and flips the result. The query also RAISES unless the index pruned
# (scanned < total files) — the pruning claim is executed, not asserted
# in prose.
#
# Scale: index build is one distinct shuffle of (key, file) — O(data)
# once; each maintenance step is O(new files); each point lookup is
# O(index-bucket + matched files). At 100 TB that is the difference
# between a full-table scan and reading a handful of files.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_value_index_counts",
    """
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           5 AS n_files_total,
           2 AS n_files_scanned
    FROM events
    WHERE user_id IN (7, 9)
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def lifecycle_value_index_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.ev", ev.schema)
    # interleaved layout: file k holds users ≡ k (mod 5) — every file's
    # user_id min/max spans ~the whole domain, so zone maps cannot prune
    for k in range(4):
        t = wh.load_table("db.ev")
        t.append(ev.filter(F.col("user_id") % 5 == k).coalesce(1))

    from iceberg_loader_spark.tables.index import (
        build_value_index,
        probe_files,
        update_value_index,
    )

    t = wh.load_table("db.ev")
    build_value_index(spark, wh, "db.ev", "db.ev_idx", "user_id")

    # incremental maintenance: the 5th file is indexed from the delta
    # scan alone — the existing table is never re-read
    base = t.meta.current_version()
    t.append(ev.filter(F.col("user_id") % 5 == 4).coalesce(1))
    update_value_index(spark, wh, "db.ev", "db.ev_idx", "user_id", base)
    t = wh.load_table("db.ev")

    # point probe: user 7 lives in the bulk-indexed file 2, user 9 ONLY
    # in the incrementally-indexed file 4
    probe = [7, 9]
    files = probe_files(spark, wh, "db.ev_idx", "user_id", probe)
    n_total = len(t.snapshot().files)
    if not files or len(files) >= n_total:
        raise RuntimeError(
            f"value index failed to prune: {len(files)} of {n_total} files"
        )
    return (
        spark.read.schema(ev.schema)
        .parquet(*files)
        .filter(F.col("user_id").isin(probe))
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .withColumn("n_files_total", F.lit(n_total))
        .withColumn("n_files_scanned", F.lit(len(files)))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# Round 6 — METADATA TABLES under the oracle gate (Iceberg's
# `tbl.snapshots` / `tbl.files` inspection surface, tables/table.py
# snapshots_df/files_df): two appends with pinned file counts
# (repartition(4) then repartition(2) — each non-empty partition writes
# exactly one file), then the history AND the per-version file manifest
# are read back as DataFrames and verified by content against the
# source: per-snapshot operation, file count, and cumulative row
# totals, plus a files_df scan of BOTH versions (the time-travel read
# path of the manifest itself). Any manifest-accounting drift — a lost
# file, a wrong total-records summary, a bad sequence stamp — flips a
# hash-verified number. File BYTES are deliberately excluded: zstd
# output depends on row placement, which round-robin repartition does
# not pin across sessions.
#
# Scale: metadata-dominated — the data writes are the corpus scanned
# once each; the metadata frames are O(snapshots + files) driver-built
# rows, the same order as the commit itself.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_metadata_tables_counts",
    """
    WITH c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nz
      FROM documents
    )
    SELECT version, operation, n_files, total_rows FROM (
      SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
             CAST(0 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS total_rows
        FROM c
      UNION ALL SELECT 2, 'append', 4, n_nz FROM c
      UNION ALL SELECT 2, 'files_scan', 4, n_nz FROM c
      UNION ALL SELECT 3, 'append', 6, n_all FROM c
      UNION ALL SELECT 3, 'files_scan', 6, n_all FROM c
    )
    ORDER BY version, operation
    """,
)
def lifecycle_metadata_tables_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("lang") != "zh").repartition(4))
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("lang") == "zh").repartition(2))
    t = wh.load_table("db.docs")
    snaps = t.snapshots_df(spark).select(
        F.col("version").cast("bigint").alias("version"),
        "operation",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("total_rows").cast("bigint").alias("total_rows"),
    )

    def _files_row(version: int) -> DataFrame:
        return t.files_df(spark, version=version).agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.coalesce(F.sum("rows"), F.lit(0))
            .cast("bigint")
            .alias("total_rows"),
        ).select(
            F.lit(version).cast("bigint").alias("version"),
            F.lit("files_scan").alias("operation"),
            "n_files",
            "total_rows",
        )

    return (
        snaps.unionByName(_files_row(2))
        .unionByName(_files_row(3))
        .orderBy("version", "operation")
    )


# --------------------------------------------------------------------------
# Round 6 — BRANCH refs under the oracle gate (Iceberg branch semantics,
# tables/table.py create_branch/fast_forward_branch): fork a writable
# branch, run an append AND a copy-on-write delete on it while main
# stays frozen, then fast-forward. Verified by content at every stage:
# main-before must equal the untouched base, branch-head and main-after
# must equal base − deleted + appended, and the replayed history must
# time-travel (the pre-fork version still reads the base). Any
# isolation leak (branch write visible on main), lost branch commit, or
# sequence corruption in the replay flips a hash-verified count.
#
# Scale: metadata-dominated — the branch fork is O(1) metadata, the
# fast-forward replays O(branch commits) manifests; data moves only for
# the two branch writes themselves.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_branch_counts",
    """
    WITH c AS (
      SELECT CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zh,
             CAST(SUM(CASE WHEN lang NOT IN ('zh', 'de') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_base_no_de
      FROM documents
    )
    SELECT stage, n_docs FROM (
      SELECT '1_main_before' AS stage, n_base AS n_docs FROM c
      UNION ALL SELECT '2_branch_head', n_base_no_de + n_zh FROM c
      UNION ALL SELECT '3_main_after_ff', n_base_no_de + n_zh FROM c
      UNION ALL SELECT '4_time_travel_prefork', n_base FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_branch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("lang") != "zh"))
    t = wh.load_table("db.docs")
    fork_v = t.meta.current_version()

    br = t.create_branch("exp")
    br.append(docs.filter(F.col("lang") == "zh"))
    t.branch("exp").delete_where(spark, "lang == 'de'")

    main_before = t.scan(spark).count()  # must NOT see branch writes
    branch_head = t.branch("exp").scan(spark).count()
    t.fast_forward_branch(t.branch("exp"))
    t = wh.load_table("db.docs")
    main_after = t.scan(spark).count()
    prefork = t.scan(spark, version=fork_v).count()

    rows = [
        ("1_main_before", main_before),
        ("2_branch_head", branch_head),
        ("3_main_after_ff", main_after),
        ("4_time_travel_prefork", prefork),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_docs long"
    ).orderBy("stage")


# --------------------------------------------------------------------------
# Round 6 — STREAMING WAP under the oracle gate (Iceberg's
# spark.wap.branch): the base corpus lands on main, a writable branch
# forks, and the zh documents stream through the native sparkberg sink
# WITH .option("branch") — every micro-batch commits exactly-once onto
# the branch chain while main stays frozen. The query verifies, by
# content: (stage 1) main is still exactly the base after the stream
# finishes, (stage 2) the branch head is base + streamed rows, and
# (stage 3) after fast-forward main equals the branch — with the
# exactly-once marker surviving the publish (asserted, so a lost marker
# fails the query even though the row counts would still match).
#
# Scale: one streaming engine fixed cost (same class as
# lifecycle_stream_sink_counts) + O(branch commits) metadata replay;
# the publish moves no data.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_branch_stream_counts",
    """
    WITH c AS (
      SELECT CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM documents
    )
    SELECT stage, n_docs FROM (
      SELECT '1_main_during_stream' AS stage, n_base AS n_docs FROM c
      UNION ALL SELECT '2_branch_after_stream', n_all FROM c
      UNION ALL SELECT '3_main_after_publish', n_all FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_branch_stream_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile as _tf

    from iceberg_loader_spark.sources.spark_datasource import register

    register(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs_wap", docs.schema)
    t.append(docs.filter(F.col("lang") != "zh"))
    t = wh.load_table("db.docs_wap")
    t.create_branch("audit")

    src = _track_root(_tf.mkdtemp(prefix="ils_wap_src_"))
    docs.filter(F.col("lang") == "zh").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    root = wh.table_root("db.docs_wap")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("sparkberg")
        .option("branch", "audit")
        .option("checkpointLocation", f"{src}/_ckpt")
        .start(root)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    marker = "streaming.sparkberg-writer.default.last-batch-id"
    main_during = t.scan(spark).count()  # branch commits must be invisible
    branch_after = t.branch("audit").scan(spark).count()
    if marker not in t.branch("audit").properties():
        raise RuntimeError("exactly-once marker missing from branch chain")
    t.fast_forward_branch(t.branch("audit"))
    t = wh.load_table("db.docs_wap")
    main_after = t.scan(spark).count()
    if marker not in t.properties():
        raise RuntimeError(
            "exactly-once marker lost in fast-forward publish"
        )
    rows = [
        ("1_main_during_stream", main_during),
        ("2_branch_after_stream", branch_after),
        ("3_main_after_publish", main_after),
    ]
    return spark.createDataFrame(rows, "stage string, n_docs long").orderBy(
        "stage"
    )


# --------------------------------------------------------------------------
# Round 7 — A4/A5 messy-JSON ingest under the EXTERNAL oracle gate
# (VERDICT r6 #4): dict rows with nested dicts/lists, mixed-type scalar
# columns, all-null columns, and per-row missing keys go through
# ``create_arrow_table_from_data`` (ref utils/arrow.py:19-72 semantics:
# key-union schema, compact-JSON stringification of dict/list values,
# stringify fallback for type-incompatible scalars, all-null → string)
# and the batch-iterator path ``create_record_batches_from_dicts``
# (arrow.py:137-156; batch_size=2 forces a chunk whose key set is a
# strict subset, exercising cast_to_schema's NULL fill), land in a real
# warehouse table via the loader, and are scanned back. The oracle holds
# the GOLDEN literal cells — any normalization drift (key order, JSON
# separators, unicode escaping, scalar stringification) flips a
# hash-verified string.
#
# Scale: fixed 8-row metadata-class query; the ingest path itself is the
# loader's buffered Arrow-batch pipeline (arbitrary batch count, O(batch)
# memory).
# --------------------------------------------------------------------------
_MESSY_A = [
    {"id": 1, "src": "a", "payload": {"a": 1, "b": "x"}, "tags": [1, 2, 3],
     "note": "plain", "mixed": 1, "score": 5, "extra": None},
    {"id": 2, "src": "a",
     "payload": {"nested": {"k": [True, None]}, "u": "é"},
     "tags": [], "mixed": "one", "score": 7, "extra": None},
    {"id": 3, "src": "a", "tags": ["x", "y"], "note": "n3", "extra": None},
    {"id": 4, "src": "a", "payload": {"c": [1, {"d": 2}]}, "note": None,
     "score": 11},
]
_MESSY_B = [
    {"id": 5, "src": "b", "payload": {"z": [3.5, "s"]}, "tags": [0],
     "note": "bb", "mixed": "two", "score": 2, "extra": None},
    {"id": 6, "src": "b", "payload": {"q": {}}, "tags": [7, 8],
     "note": "b6", "mixed": 3, "score": 4, "extra": None},
    {"id": 7, "src": "b", "note": "b7", "score": 6},
    {"id": 8, "src": "b", "payload": {"w": 0}, "note": "b8"},
]


@_register(
    "lifecycle_messy_json_counts",
    """
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'a', '{"a":1,"b":"x"}', '[1,2,3]', 'plain',
       '1', CAST(NULL AS VARCHAR), CAST(5 AS BIGINT)),
      (2, 'a', '{"nested":{"k":[true,null]},"u":"é"}', '[]', NULL,
       'one', NULL, 7),
      (3, 'a', NULL, '["x","y"]', 'n3', NULL, NULL, NULL),
      (4, 'a', '{"c":[1,{"d":2}]}', NULL, NULL, NULL, NULL, 11),
      (5, 'b', '{"z":[3.5,"s"]}', '[0]', 'bb', 'two', NULL, 2),
      (6, 'b', '{"q":{}}', '[7,8]', 'b6', '3', NULL, 4),
      (7, 'b', NULL, NULL, 'b7', NULL, NULL, 6),
      (8, 'b', '{"w":0}', NULL, 'b8', NULL, NULL, NULL)
    ) AS t(id, src, payload, tags, note, mixed, extra, score)
    ORDER BY id
    """,
)
def lifecycle_messy_json_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.loader import SparkLoader
    from iceberg_loader_spark.sources.normalize import (
        create_record_batches_from_dicts,
    )

    wh = _fresh_warehouse()
    loader = SparkLoader(spark, wh)
    r1 = loader.load_data([dict(r) for r in _MESSY_A], "db.messy")
    r2 = loader.load_data_batches(
        create_record_batches_from_dicts(
            iter(dict(r) for r in _MESSY_B), batch_size=2
        ),
        "db.messy",
    )
    # ingest-report sanity folded into the query (A37): a silently
    # dropped row or missed batch fails loudly, not as a hash mismatch
    if r1["rows_loaded"] != 4 or not r1["new_table_created"]:
        raise RuntimeError(f"messy-json create-load drifted: {r1}")
    if r2["rows_loaded"] != 4 or r2["batches_processed"] != 2:
        raise RuntimeError(f"messy-json batch-load drifted: {r2}")
    return (
        wh.load_table("db.messy")
        .scan(spark)
        .select(
            "id", "src", "payload", "tags", "note", "mixed", "extra", "score"
        )
        .orderBy("id")
    )


# --------------------------------------------------------------------------
# Round 7 — BRANCH × COMPACTION interplay under the oracle gate (VERDICT
# r6 #7): ``rewrite_data_files`` on a branch changes file identity, so
# merge-on-read applicability across the publish is the sharp edge. The
# flow: fork a branch, append + MoR-delete 'de' on it, COMPACT the
# branch to 3 files (materializes the 'de' predicate into the rewrite,
# clears it, inherits the max input sequence), then record a SECOND MoR
# delete ('fr') after the compaction, and fast-forward. Verified by
# content at every stage: the branch head and main-after must both read
# base − de − fr + zh (the live 'fr' predicate must survive the replay
# and apply to the REWRITTEN files via sequence inheritance), the
# compacted file count must survive the publish exactly, and pre-fork
# time travel still reads the untouched base.
#
# Scale: metadata-dominated — compaction rewrites the (small) branch
# content once; the fast-forward replays O(branch commits) manifests
# and moves no data.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_branch_compaction_counts",
    """
    WITH c AS (
      SELECT CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zh,
             CAST(SUM(CASE WHEN lang NOT IN ('zh', 'de', 'fr') THEN 1
                           ELSE 0 END) AS BIGINT) AS n_keep_nz
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_main_before' AS stage, n_base AS n FROM c
      UNION ALL SELECT '2_branch_head', n_keep_nz + n_zh FROM c
      UNION ALL SELECT '3_branch_files_compacted', 3 FROM c
      UNION ALL SELECT '4_main_after_ff', n_keep_nz + n_zh FROM c
      UNION ALL SELECT '5_main_files_after_ff', 3 FROM c
      UNION ALL SELECT '6_main_live_preds_after_ff', 1 FROM c
      UNION ALL SELECT '7_time_travel_prefork', n_base FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_branch_compaction_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs.filter(F.col("lang") != "zh").repartition(4))
    t = wh.load_table("db.docs")
    fork_v = t.meta.current_version()
    main_before = t.scan(spark).count()

    t.create_branch("exp")
    t.branch("exp").append(docs.filter(F.col("lang") == "zh").repartition(2))
    t.branch("exp").delete_where(spark, "lang = 'de'", mode="mor")
    rewrite_data_files(t.branch("exp"), spark, target_files=3)
    br = t.branch("exp")
    if br.snapshot().delete_predicates:
        raise RuntimeError("compaction left the materialized MoR predicate")
    # a LIVE predicate recorded after the rewrite: its sequence postdates
    # the compacted files' inherited sequence, so it must keep applying
    # to the rewritten rows through the publish
    br.delete_where(spark, "lang = 'fr'", mode="mor")
    br = t.branch("exp")
    branch_head = br.scan(spark).count()
    branch_files = len(br.snapshot().files)

    t.fast_forward_branch(t.branch("exp"))
    t = wh.load_table("db.docs")
    main_after = t.scan(spark).count()
    main_files = len(t.snapshot().files)
    main_preds = len(t.snapshot().delete_predicates)
    prefork = t.scan(spark, version=fork_v).count()

    rows = [
        ("1_main_before", main_before),
        ("2_branch_head", branch_head),
        ("3_branch_files_compacted", branch_files),
        ("4_main_after_ff", main_after),
        ("5_main_files_after_ff", main_files),
        ("6_main_live_preds_after_ff", main_preds),
        ("7_time_travel_prefork", prefork),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


# --------------------------------------------------------------------------
# Round 7 — the PRODUCTION-CATALOG SWAP path under the oracle gate
# (VERDICT r6 "What's missing" #3): the reference ships a Trino + HMS +
# MinIO stack (ref examples/docker-compose.yml:1-61) as its production
# catalog; this repo's sandbox equivalent is the threaded HTTP catalog
# server (tables/httpcatalog.py — server-side compare-and-swap on ETags)
# over the conditional-PUT object-store metadata backend
# (tables/objectstore.py). Until now that path was covered by unit +
# race tests only; this query runs a full table lifecycle — create,
# two appends, a merge-on-read delete, time travel, and a SECOND client
# (fresh Warehouse + fresh HTTP store against the same server — the
# "swap" a production deployment performs when a new engine attaches to
# the shared catalog) — entirely through HTTP metadata commits, and
# hash-verifies the stage counts against the source parquet.
#
# Scale: metadata-dominated — every commit is one HTTP CAS round-trip on
# a KB-sized manifest (data files never travel through the catalog, same
# division of labor as Iceberg REST catalogs); the data writes/scans are
# the ordinary distributed parquet path.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_catalog_http_counts",
    """
    WITH c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzh,
             CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_de
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_first_append' AS stage, n_nonzh AS n FROM c
      UNION ALL SELECT '2_second_append', n_all FROM c
      UNION ALL SELECT '3_after_mor_delete', n_all - n_de FROM c
      UNION ALL SELECT '4_time_travel_v2', n_nonzh FROM c
      UNION ALL SELECT '5_versions_committed', 4 FROM c
      UNION ALL SELECT '6_second_client_scan', n_all - n_de FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_catalog_http_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.httpcatalog import (
        CatalogHTTPServer,
        HttpCatalogStore,
    )
    from iceberg_loader_spark.tables.objectstore import ObjectStoreBackend

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = _track_root(tempfile.mkdtemp(prefix="ils_httpcat_"))
    with CatalogHTTPServer() as url:
        store = HttpCatalogStore(url)
        wh = Warehouse(
            root, backend_factory=lambda r: ObjectStoreBackend(store, r)
        )
        t = Table.create(wh, "db.cat", docs.schema)  # v1 (empty)
        t.append(docs.filter(F.col("lang") != "zh"))  # v2
        n1 = wh.load_table("db.cat").scan(spark).count()
        t = wh.load_table("db.cat")
        t.append(docs.filter(F.col("lang") == "zh"))  # v3
        n2 = wh.load_table("db.cat").scan(spark).count()
        t = wh.load_table("db.cat")
        t.delete_where(spark, "lang = 'de'", mode="mor")  # v4
        t = wh.load_table("db.cat")
        n3 = t.scan(spark).count()
        n4 = t.scan(spark, version=2).count()  # after first append
        versions = t.meta.current_version()
        # the swap: a brand-new client stack (fresh store, fresh
        # Warehouse — zero shared local state with the writer) attaches
        # to the same catalog server and must read the same table
        wh2 = Warehouse(
            root,
            backend_factory=lambda r: ObjectStoreBackend(
                HttpCatalogStore(url), r
            ),
        )
        n6 = wh2.load_table("db.cat").scan(spark).count()
    rows = [
        ("1_first_append", n1),
        ("2_second_append", n2),
        ("3_after_mor_delete", n3),
        ("4_time_travel_v2", n4),
        ("5_versions_committed", versions),
        ("6_second_client_scan", n6),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


# --------------------------------------------------------------------------
# Round 7 — CHERRY-PICK under the oracle gate (Iceberg's
# cherrypick_snapshot): the publish path fast-forward cannot handle —
# main advanced past the fork with its own MoR delete, so the branch's
# append is applied as a NEW commit whose files take the NEW data
# sequence. The sharp edge verified by content: the picked rows MATCH
# the delete predicate main recorded in between ('zh'), yet survive,
# because the predicate's sequence is lower than theirs — while the
# original zh rows stay deleted. Replay protection (same snapshot
# refused twice) is asserted inside the query.
#
# Scale: metadata-only — the picked files are shared with the branch
# (same data area), re-stamped, never copied or rewritten.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_cherry_pick_counts",
    """
    WITH c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zh
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_main_before_delete' AS stage, n_all AS n FROM c
      UNION ALL SELECT '2_main_after_delete', n_all - n_zh FROM c
      UNION ALL SELECT '3_main_after_pick', n_all FROM c
      UNION ALL SELECT '4_picked_rows_alive', n_zh FROM c
      UNION ALL SELECT '5_time_travel_prefork', n_all FROM c
      UNION ALL SELECT '6_versions_committed', 4 FROM c
      UNION ALL SELECT '7_duplicate_refused', 1 FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_cherry_pick_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.tables.format import ConcurrentModification

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    t.append(docs)  # v2
    t = wh.load_table("db.docs")
    fork_v = t.meta.current_version()
    n_before = t.scan(spark).count()

    t.create_branch("exp")
    picked_src = docs.filter(F.col("lang") == "zh").select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "lang",
        "n_chars",
    )
    t.branch("exp").append(picked_src)

    t.delete_where(spark, "lang = 'zh'", mode="mor")  # v3 — main diverges
    t = wh.load_table("db.docs")
    n_after_delete = t.scan(spark).count()
    try:
        t.fast_forward_branch(t.branch("exp"))
        raise RuntimeError("fast-forward must refuse a diverged main")
    except ConcurrentModification:
        pass
    t.cherry_pick(t.branch("exp"))  # v4
    t = wh.load_table("db.docs")
    n_after_pick = t.scan(spark).count()
    n_picked_alive = (
        t.scan(spark).filter(F.col("doc_id") >= 10_000_000).count()
    )
    n_prefork = t.scan(spark, version=fork_v).count()
    versions = t.meta.current_version()
    try:
        t.cherry_pick(t.branch("exp"))
        dup_refused = 0
    except ValueError:
        dup_refused = 1

    rows = [
        ("1_main_before_delete", n_before),
        ("2_main_after_delete", n_after_delete),
        ("3_main_after_pick", n_after_pick),
        ("4_picked_rows_alive", n_picked_alive),
        ("5_time_travel_prefork", n_prefork),
        ("6_versions_committed", versions),
        ("7_duplicate_refused", dup_refused),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


# --------------------------------------------------------------------------
# Round 8 — MANIFEST-CHAIN COMPACTION under the oracle gate (VERDICT r7
# #3): commits delta-encode the file list against the parent manifest so
# commit metadata stays O(changed files) at 100 TB file counts, but a
# scan of the head then walks the delta chain (one extra metadata read
# per delta) until expiry happens to truncate it — the cost a
# high-frequency streaming-append table pays first. ``rewrite_manifests``
# squashes each ref head (main + every branch) into one self-contained
# base manifest via the atomic replace swap, moving ZERO data files.
#
# The commit pattern pins every chain length a priori (each append
# writes exactly 2 files via repartition(2)): create = full, first
# append = full (delta wouldn't pay at 2-of-2 files), appends 2-6 =
# delta → main chain 5; branch fork seed = full, 2 branch appends →
# branch chain 2. After the rewrite both chains read 0; a further
# append must still delta (chain 1) against the squashed base; content
# (main rows, branch rows, mid-chain time travel) is hash-verified
# against the source parquet through the squash.
#
# Scale: metadata-only — one KB-sized manifest read+write per ref head,
# no data movement; exactly the Iceberg ``rewrite_manifests`` division
# of labor.
# --------------------------------------------------------------------------
@_register(
    "lifecycle_manifest_compaction_counts",
    """
    WITH c AS (
      SELECT CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             -- the branch ingests ALL zh docs (split in two halves)
             CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zh,
             CAST(SUM(CASE WHEN doc_id % 10 = 0 AND lang = 'fr'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
             CAST(SUM(CASE WHEN doc_id % 10 = 0 AND (doc_id // 10) % 6 <= 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_mid
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_main_chain_before' AS stage, CAST(5 AS BIGINT) AS n FROM c
      UNION ALL SELECT '2_branch_chain_before', 2 FROM c
      UNION ALL SELECT '3_manifests_rewritten', 2 FROM c
      UNION ALL SELECT '4_main_chain_after', 0 FROM c
      UNION ALL SELECT '5_branch_chain_after', 0 FROM c
      UNION ALL SELECT '6_main_rows_final', n_base + n_fr FROM c
      UNION ALL SELECT '7_branch_rows', n_base + n_zh FROM c
      UNION ALL SELECT '8_time_travel_mid', n_mid FROM c
      UNION ALL SELECT '9_main_chain_final', 1 FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_manifest_compaction_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import (
        manifest_chain_length,
        rewrite_manifests,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = docs.filter(F.col("doc_id") % 10 == 0)
    slot = F.expr("(doc_id div 10) % 6")
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", base.schema)
    for m in range(6):
        t.append(base.filter(slot == m).repartition(2))
        t = wh.load_table("db.docs")
    mid_v = t.meta.current_version() - 3  # after appends 0-2
    t.create_branch("b")
    for m in range(2):
        t.branch("b").append(
            docs.filter(
                (F.col("lang") == "zh") & (F.expr("(doc_id div 10) % 2") == m)
            ).repartition(2)
        )
    main_chain_before = manifest_chain_length(t)
    branch_chain_before = manifest_chain_length(t.branch("b"))

    report = rewrite_manifests(t)

    main_chain_after = manifest_chain_length(t)
    branch_chain_after = manifest_chain_length(t.branch("b"))
    # the squash is content-preserving AND the table stays writable:
    # the next commit deltas against the new self-contained base
    t.append(base.filter(F.col("lang") == "fr").repartition(2))
    t = wh.load_table("db.docs")
    rows = [
        ("1_main_chain_before", main_chain_before),
        ("2_branch_chain_before", branch_chain_before),
        ("3_manifests_rewritten", report["rewritten"]),
        ("4_main_chain_after", main_chain_after),
        ("5_branch_chain_after", branch_chain_after),
        ("6_main_rows_final", t.scan(spark).count()),
        ("7_branch_rows", t.branch("b").scan(spark).count()),
        ("8_time_travel_mid", t.scan(spark, version=mid_v).count()),
        ("9_main_chain_final", manifest_chain_length(t)),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


# --------------------------------------------------------------------------
# Round 8 — POSITION-DELETE COMPACTION under the oracle gate (Iceberg
# `rewrite_position_delete_files`): every mor-pos DELETE commits its own
# delete file, so a delete-heavy table's scans pay one anti-join per
# delete file until data compaction happens to materialize them.
# `rewrite_delete_files` merges all positional delete files into a
# target-sized shard set — ONE file here, since these positions are far
# below the 64 MB target; at 100 TB the output range-partitions by
# (file_path, pos) so no single task funnels a multi-GB merged file —
# (positions deduplicated), drops DANGLING positions (rows referencing
# data files no longer live — here created by a metadata-proof CoW
# delete that drops whole files the earlier pos-delete had referenced),
# and moves ZERO data rows. The merged file takes the MAX source
# sequence — safe because positions name exact (file_path, pos) rows —
# which the final append proves: rows committed AFTER the rewrite stay
# untouched by the merged delete.
#
# Flow: 3 appends (non-de even / non-de odd / de-only) → pos-delete
# lang='fr' → pos-delete doc_id<=K (references the de files too) →
# pos-delete lang='zh' → CoW delete lang='de' (drops the de-only files
# outright, dangling the K-delete's de positions) → rewrite_delete_files
# → append fresh de rows. Pinned: 3 pos files → 1, raw position count,
# deduplicated live position count, data-file count, and per-stage
# visible rows — all recomputed from the source parquet by the oracle.
#
# Scale: the merge reads only delete files (16-byte rows), dedups and
# rewrites one sorted file; the dangling filter is a semi-join against
# the manifest's live-path list. No data file is opened.
# --------------------------------------------------------------------------
_PDC_K = 400  # doc_id cutoff for the positional range delete


@_register(
    "lifecycle_pos_delete_compaction_counts",
    f"""
    WITH c AS (
      SELECT
        CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
        CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
        CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
        CAST(SUM(CASE WHEN doc_id <= {_PDC_K} THEN 1 ELSE 0 END) AS BIGINT)
          AS n_lek,
        CAST(SUM(CASE WHEN lang <> 'de'
                       AND (lang = 'fr' OR lang = 'zh' OR doc_id <= {_PDC_K})
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_live_pos,
        CAST(SUM(CASE WHEN lang NOT IN ('fr', 'zh', 'de')
                       AND doc_id > {_PDC_K}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_other_vis
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_pos_files_before' AS stage, CAST(3 AS BIGINT) AS n FROM c
      UNION ALL SELECT '2_pos_rows_before', n_fr + n_lek + n_zh FROM c
      UNION ALL SELECT '3_pos_files_after', 1 FROM c
      UNION ALL SELECT '4_pos_rows_after', n_live_pos FROM c
      UNION ALL SELECT '5_dangling_removed',
                       (n_fr + n_lek + n_zh) - n_live_pos FROM c
      UNION ALL SELECT '6_rows_final_de', n_de FROM c
      UNION ALL SELECT '7_rows_final_other', n_other_vis FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_pos_delete_compaction_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import rewrite_delete_files

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    nonde = docs.filter(F.col("lang") != "de")
    t.append(nonde.filter(F.col("doc_id") % 2 == 0).repartition(2))
    t = wh.load_table("db.docs")
    t.append(nonde.filter(F.col("doc_id") % 2 == 1).repartition(2))
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("lang") == "de").repartition(2))

    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'fr'", mode="mor-pos")
    t = wh.load_table("db.docs")
    t.delete_where(spark, f"doc_id <= {_PDC_K}", mode="mor-pos")
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'zh'", mode="mor-pos")
    t = wh.load_table("db.docs")
    # metadata-proof full drop of the de-only files: their positions in
    # the doc_id range delete are now DANGLING
    t.delete_where(spark, "lang == 'de'", mode="cow")

    t = wh.load_table("db.docs")
    pos_before = [
        d for d in t.snapshot().delete_files if d.get("kind") == "pos"
    ]
    n_files_before = len(pos_before)
    n_rows_before = sum(d["rows"] for d in pos_before)

    report = rewrite_delete_files(t, spark)

    t = wh.load_table("db.docs")
    pos_after = [
        d for d in t.snapshot().delete_files if d.get("kind") == "pos"
    ]
    # rows appended AFTER the rewrite must stay untouched by the merged
    # delete (its max-sequence can never cover them)
    t.append(docs.filter(F.col("lang") == "de").repartition(2))
    t = wh.load_table("db.docs")
    final_de = t.scan(spark).filter(F.col("lang") == "de").count()
    final_other = t.scan(spark).filter(F.col("lang") != "de").count()

    rows = [
        ("1_pos_files_before", n_files_before),
        ("2_pos_rows_before", n_rows_before),
        ("3_pos_files_after", len(pos_after)),
        ("4_pos_rows_after", sum(d["rows"] for d in pos_after)),
        ("5_dangling_removed", report["positions_removed"]),
        ("6_rows_final_de", final_de),
        ("7_rows_final_other", final_other),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


# --------------------------------------------------------------------------
# Round 9 — EQUALITY-DELETE CONVERGENCE under the oracle gate (Iceberg's
# convert path inside `rewrite_position_delete_files`): every
# `delete_by_keys` / MoR-upsert commits an equality-delete file whose
# applicability is sequence-x-key-range dependent, so
# `rewrite_delete_files` correctly refuses to merge them — a delete-heavy
# MoR-upsert table's scan cost otherwise grows with EQUALITY-delete count
# until full data compaction. `convert_equality_deletes` materializes
# each equality op into exact (file_path, pos) rows by scanning ONLY the
# files that op applies to (sequence < op's, key-range pruned — the same
# `_op_applies` gate the scan uses), then drops the equality ops in the
# same commit; the existing position-delete merge applies from there.
#
# Flow: 2 appends (even / odd doc_id, one file each) → eq-delete the fr
# doc_ids → pos-delete lang='zh' (must survive conversion untouched) →
# eq-delete doc_id<=K → append the fr docs AGAIN (later sequence: keys
# match but rows must stay visible through conversion — the sequence
# rule) → convert_equality_deletes → rewrite_delete_files. Pinned: eq/pos
# file counts at every step, the applicable (file x eq-op) anti-join pair
# count before (4) and after (0) — the scan-cost number that stops
# growing — exact converted-position count, merged live-position count,
# and the visible row set after each procedure (both recomputed from the
# source parquet by the oracle).
#
# Scale: conversion reads only applicable files projected to key+lineage
# columns, broadcasts the O(keys) key files, and range-shards the merged
# positions to the target file size; no data row is rewritten.
# --------------------------------------------------------------------------
_EDC_K = 300  # doc_id cutoff for the second equality delete


@_register(
    "lifecycle_eq_delete_convert_counts",
    f"""
    WITH c AS (
      SELECT
        CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
        CAST(SUM(CASE WHEN lang = 'fr' OR doc_id <= {_EDC_K}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
        CAST(SUM(CASE WHEN lang = 'fr' OR lang = 'zh' OR doc_id <= {_EDC_K}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_merged,
        CAST(SUM(CASE WHEN lang NOT IN ('fr', 'zh') AND doc_id > {_EDC_K}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_vis
      FROM documents
    )
    SELECT stage, n FROM (
      SELECT '1_eq_files_before' AS stage, CAST(2 AS BIGINT) AS n FROM c
      UNION ALL SELECT '2_pos_files_before', 1 FROM c
      UNION ALL SELECT '3_applicable_eq_pairs', 4 FROM c
      UNION ALL SELECT '4_converted_positions', n_conv FROM c
      UNION ALL SELECT '5_eq_files_after', 0 FROM c
      UNION ALL SELECT '6_pos_files_after', 2 FROM c
      UNION ALL SELECT '7_visible_after_convert', n_vis + n_fr FROM c
      UNION ALL SELECT '8_pos_rows_merged', n_merged FROM c
      UNION ALL SELECT '9_visible_final', n_vis + n_fr FROM c
    )
    ORDER BY stage
    """,
)
def lifecycle_eq_delete_convert_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_loader_spark.tables.maintenance import (
        convert_equality_deletes,
        rewrite_delete_files,
    )
    from iceberg_loader_spark.tables.table import _op_applies

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wh = _fresh_warehouse()
    t = Table.create(wh, "db.docs", docs.schema)
    # one file per append: deterministic applicable-pair accounting
    t.append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(1))
    t = wh.load_table("db.docs")
    t.append(docs.filter(F.col("doc_id") % 2 == 1).coalesce(1))

    t = wh.load_table("db.docs")
    t.delete_by_keys(
        spark, docs.filter(F.col("lang") == "fr").select("doc_id"), ["doc_id"]
    )
    t = wh.load_table("db.docs")
    t.delete_where(spark, "lang == 'zh'", mode="mor-pos")
    t = wh.load_table("db.docs")
    t.delete_by_keys(
        spark,
        docs.filter(F.col("doc_id") <= _EDC_K).select("doc_id"),
        ["doc_id"],
    )
    t = wh.load_table("db.docs")
    # later-sequence rows whose keys MATCH both equality deletes: the
    # sequence rule must keep them visible through the conversion
    t.append(docs.filter(F.col("lang") == "fr").coalesce(1))

    t = wh.load_table("db.docs")
    snap = t.snapshot()
    eq_before = [d for d in snap.delete_files if d.get("kind") != "pos"]
    pos_before = [d for d in snap.delete_files if d.get("kind") == "pos"]
    # the scan-cost number conversion eliminates: anti-join (file x eq-op)
    # pairs — the same applicability gate `Table.scan` pays per read
    pairs = sum(
        1
        for o in eq_before
        for f in snap.files
        if _op_applies(f, {"kind": "eq", **o})
    )

    report = convert_equality_deletes(t, spark)
    t = wh.load_table("db.docs")
    snap2 = t.snapshot()
    eq_after = [d for d in snap2.delete_files if d.get("kind") != "pos"]
    pos_after = [d for d in snap2.delete_files if d.get("kind") == "pos"]
    vis_convert = t.scan(spark).count()

    rewrite_delete_files(t, spark)
    t = wh.load_table("db.docs")
    pos_merged = [
        d for d in t.snapshot().delete_files if d.get("kind") == "pos"
    ]
    vis_final = t.scan(spark).count()

    rows = [
        ("1_eq_files_before", len(eq_before)),
        ("2_pos_files_before", len(pos_before)),
        ("3_applicable_eq_pairs", pairs),
        ("4_converted_positions", report["positions"]),
        ("5_eq_files_after", len(eq_after)),
        ("6_pos_files_after", len(pos_after)),
        ("7_visible_after_convert", vis_convert),
        ("8_pos_rows_merged", sum(d["rows"] for d in pos_merged)),
        ("9_visible_final", vis_final),
    ]
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")
