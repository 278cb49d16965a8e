"""The `sparkberg` Spark Python Data Source: read/write the table format
through the ordinary `spark.read.format(...)` / `df.write.format(...)`
API (SPARK-44076), including snapshot time travel, manifest-stat file
pruning via pushFilters, schema-evolution NULL fill, commit-protocol
appends, and the declared MoR read boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, GreaterThan

from iceberg_loader_spark.sources.spark_datasource import (
    SparkbergReader,
    register,
)
from iceberg_loader_spark.tables.catalog import Warehouse
from iceberg_loader_spark.tables.table import Table


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_autocreate_and_read_roundtrip(spark, wh):
    root = wh.table_root("db.ds_roundtrip")
    df = spark.createDataFrame(
        [Row(k=i, v=f"s{i}") for i in range(10)]
    )
    df.write.format("sparkberg").mode("append").save(root)
    back = spark.read.format("sparkberg").load(root)
    assert _rows(back) == _rows(df)
    # the engine-side API sees the same table (shared commit protocol)
    t = wh.load_table("db.ds_roundtrip")
    assert t.snapshot().total_rows == 10
    assert _rows(t.scan(spark)) == _rows(df)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_connector_records_nan_as_float_max(spark, wh, mode):
    """The connector's files record a NaN as the column's max, as Spark's
    writer does, so a delete whose range the NaN row fails does not
    prove the file fully matching and drop the NaN row with it; nor does
    the Spark read that applies the delete."""
    import math

    root = wh.table_root("db.ds_nan")
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame([(1.0,), (float("nan"),)], schema).coalesce(1)
    df.write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_nan")
    [f] = t.snapshot().files
    assert f.stats["x"][0] == 1.0 and math.isnan(f.stats["x"][1])
    t.delete_where(spark, "x < 5", mode=mode)
    [row] = t.scan(spark).collect()
    assert math.isnan(row.x)


@pytest.mark.parametrize("budget", [None, 0], ids=["driver", "spark"])
def test_scan_filter_keeps_nan_rows_of_connector_file(spark, wh, monkeypatch, budget):
    """A scan filter the NaN row meets keeps it on both read paths: the
    Spark one (forced by ``DRIVER_SCAN_READ_BYTES = 0``) does not push a
    float term NaN may meet into the parquet reader, whose row-group
    filter trusts pyarrow's footer max 1.0; the other terms, float ones
    NaN cannot meet among them, are still pushed."""
    import math

    from iceberg_loader_spark.tables import table as table_module

    if budget is not None:
        monkeypatch.setattr(table_module, "DRIVER_SCAN_READ_BYTES", budget)
    root = wh.table_root("db.ds_nan_scan")
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame([(1, 1.0), (2, float("nan"))], schema).coalesce(1)
    df.write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_nan_scan")
    for where in ("x > 5", "x >= 1 and k >= 2", "x != 1.0", "x == 'NaN'"):
        [row] = t.scan(spark, where=where).collect()
        assert row.k == 2 and math.isnan(row.x), where
    assert t.scan(spark, where="x > 5 and x < 7").collect() == []
    plan = t.scan(spark, where="x > 5 and x < 7 and k >= 2")._jdf.queryExecution()
    if budget == 0:
        pushed = plan.executedPlan().toString().split("PushedFilters: [")[1].split("]")[0]
        assert "GreaterThanOrEqual(k,2)" in pushed and "LessThan(x,7.0)" in pushed
        assert "GreaterThan(x" not in pushed


def test_incremental_scan_keeps_nan_rows_of_connector_file(spark, wh):
    """The incremental scan filters as ``Table.scan`` does: a float term
    the NaN row meets is not pushed into the parquet reader, whose
    row-group filter trusts pyarrow's footer max 1.0."""
    import math

    root = wh.table_root("db.ds_nan_incremental")
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame([(1, 1.0), (2, float("nan"))], schema).coalesce(1)
    df.write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_nan_incremental")
    base = t.history()[0].version
    assert [r.k for r in t.scan(spark, where="x > 5").collect()] == [2]
    [row] = t.scan_incremental(spark, base, where="x > 5").collect()
    assert row.k == 2 and math.isnan(row.x)


def test_scan_filter_keeps_nan_rows_of_nested_connector_file(spark, wh):
    """The same for a float nested in a struct: a filter on ``st.x`` is
    outside the term grammar, so it reads through Spark and is not
    pushed into the parquet reader, which pushes nested predicates."""
    import math

    root = wh.table_root("db.ds_nested_nan_scan")
    inner = T.StructType([T.StructField("x", T.DoubleType())])
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("st", inner)])
    df = spark.createDataFrame([(1, (1.0,)), (2, (float("nan"),))], schema).coalesce(1)
    df.write.format("sparkberg").mode("append").save(root)
    scan = wh.load_table("db.ds_nested_nan_scan").scan(spark, where="st.x > 5")
    [row] = scan.collect()
    assert row.k == 2 and math.isnan(row.st.x)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "st.x" not in plan.split("PushedFilters: [")[1].split("]")[0]


def test_append_then_overwrite_modes(spark, wh):
    root = wh.table_root("db.ds_modes")
    one = spark.range(5).select(F.col("id").alias("k"))
    one.write.format("sparkberg").mode("append").save(root)
    one.write.format("sparkberg").mode("append").save(root)
    assert spark.read.format("sparkberg").load(root).count() == 10
    two = spark.range(3).select(F.col("id").alias("k"))
    two.write.format("sparkberg").mode("overwrite").save(root)
    assert spark.read.format("sparkberg").load(root).count() == 3
    t = wh.load_table("db.ds_modes")
    assert [s.operation for s in t.history()][-1] == "overwrite"


def test_version_time_travel_option(spark, wh):
    root = wh.table_root("db.ds_tt")
    spark.range(4).write.format("sparkberg").mode("append").save(root)
    spark.range(6).write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_tt")
    first_append = next(s for s in t.history() if s.operation == "append")
    old = (
        spark.read.format("sparkberg")
        .option("version", first_append.version)
        .load(root)
    )
    assert old.count() == 4
    assert spark.read.format("sparkberg").load(root).count() == 10


def test_tag_option(spark, wh):
    root = wh.table_root("db.ds_tag")
    spark.range(2).write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_tag")
    t.set_tag("rel")
    spark.range(9).write.format("sparkberg").mode("append").save(root)
    tagged = (
        spark.read.format("sparkberg").option("tag", "rel").load(root)
    )
    assert tagged.count() == 2


def test_branch_option(spark, wh):
    root = wh.table_root("db.ds_branch")
    spark.range(3).write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_branch")
    br = t.create_branch("exp")
    br.append(spark.range(5).selectExpr("id"))
    # branch read sees fork + branch rows; default read sees main only
    on_branch = (
        spark.read.format("sparkberg").option("branch", "exp").load(root)
    )
    assert on_branch.count() == 8
    assert spark.read.format("sparkberg").load(root).count() == 3
    import pytest as _pytest

    with _pytest.raises(Exception, match="mutually exclusive"):
        spark.read.format("sparkberg").option("branch", "exp").option(
            "version", 1
        ).load(root).count()


def test_filter_pushdown_prunes_files(spark, wh):
    root = wh.table_root("db.ds_prune")
    # two appends -> two files with disjoint k ranges in manifest stats
    spark.createDataFrame([(i,) for i in range(0, 50)], "k int").coalesce(
        1
    ).write.format("sparkberg").mode("append").save(root)
    spark.createDataFrame([(i,) for i in range(100, 150)], "k int").coalesce(
        1
    ).write.format("sparkberg").mode("append").save(root)

    reader = SparkbergReader(
        T.StructType([T.StructField("k", T.IntegerType())]),
        {"path": root},
    )
    assert len(reader.partitions()) == 2
    # pushFilters must hand every filter back (Spark re-applies rows)
    handed_back = list(reader.pushFilters([EqualTo(("k",), 120)]))
    assert len(handed_back) == 1
    assert len(reader.partitions()) == 1  # min/max stats prune file 1

    reader2 = SparkbergReader(
        T.StructType([T.StructField("k", T.IntegerType())]),
        {"path": root},
    )
    list(reader2.pushFilters([GreaterThan(("k",), 500)]))
    assert len(reader2.partitions()) == 0

    # end-to-end rows are right regardless of pruning
    got = (
        spark.read.format("sparkberg")
        .load(root)
        .filter(F.col("k") == 120)
        .collect()
    )
    assert [r.k for r in got] == [120]


def test_schema_evolution_null_fill(spark, wh):
    root = wh.table_root("db.ds_evolve")
    spark.createDataFrame([(1, "a")], "k int, s string").write.format(
        "sparkberg"
    ).mode("append").save(root)
    t = wh.load_table("db.ds_evolve")
    t.add_columns([T.StructField("extra", T.LongType())])
    back = spark.read.format("sparkberg").load(root)
    assert back.columns == ["k", "s", "extra"]
    assert back.collect()[0].extra is None
    # and new writes carry the evolved schema
    spark.createDataFrame([(2, "b", 7)], "k int, s string, extra long").write.format(
        "sparkberg"
    ).mode("append").save(root)
    assert _rows(spark.read.format("sparkberg").load(root)) == [
        (1, "a", None),
        (2, "b", 7),
    ]


def test_mor_pending_deletes_refused(spark, wh):
    root = wh.table_root("db.ds_mor")
    spark.createDataFrame([(i,) for i in range(10)], "k int").write.format(
        "sparkberg"
    ).mode("append").save(root)
    t = wh.load_table("db.ds_mor")
    t.delete_where(spark, "k == 3", mode="mor")
    with pytest.raises(Exception, match="merge-on-read"):
        spark.read.format("sparkberg").load(root).collect()
    # engine scan still serves the correct rows
    assert t.scan(spark).count() == 9
    # compaction materializes the delete; connector read works again
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    rewrite_data_files(t, spark)
    assert spark.read.format("sparkberg").load(root).count() == 9


def test_partitioned_write_refused(spark, wh):
    from iceberg_loader_spark.tables.partitioning import PartitionField

    schema = T.StructType([T.StructField("k", T.IntegerType())])
    Table.create(
        wh,
        "db.ds_part",
        schema,
        partition_spec=[PartitionField("identity", "k", "k")],
    )
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(Exception, match="unpartitioned"):
        df.write.format("sparkberg").mode("append").save(
            wh.table_root("db.ds_part")
        )


def test_column_mismatch_refused(spark, wh):
    root = wh.table_root("db.ds_cols")
    spark.createDataFrame([(1, "a")], "k int, s string").write.format(
        "sparkberg"
    ).mode("append").save(root)
    bad = spark.createDataFrame([("a", 1)], "s string, k int")
    with pytest.raises(Exception, match="schema"):
        bad.write.format("sparkberg").mode("append").save(root)
    # a type mismatch is refused too (it would poison every later read)
    bad_type = spark.createDataFrame([("1", "a")], "k string, s string")
    with pytest.raises(Exception, match="schema"):
        bad_type.write.format("sparkberg").mode("append").save(root)


def test_stats_recorded_in_manifest(spark, wh):
    root = wh.table_root("db.ds_stats")
    spark.createDataFrame([(5,), (9,)], "k int").coalesce(1).write.format(
        "sparkberg"
    ).mode("append").save(root)
    t = wh.load_table("db.ds_stats")
    [f] = t.snapshot().files
    assert f.stats["k"] == [5, 9]
    assert f.rows == 2
    assert f.sequence == t.snapshot().version


def test_stream_tail_backfill_and_increment(spark, wh, tmp_path):
    root = wh.table_root("db.ds_stream")
    spark.range(5).select(F.col("id").alias("k")).write.format(
        "sparkberg"
    ).mode("append").save(root)

    q = (
        spark.readStream.format("sparkberg")
        .load(root)
        .writeStream.format("memory")
        .queryName("ds_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM ds_tail").first().c == 5
        # two more appends arrive; the stream picks up exactly the delta
        spark.range(5, 8).select(F.col("id").alias("k")).write.format(
            "sparkberg"
        ).mode("append").save(root)
        spark.range(8, 10).select(F.col("id").alias("k")).write.format(
            "sparkberg"
        ).mode("append").save(root)
        q.processAllAvailable()
        got = sorted(
            r.k for r in spark.sql("SELECT k FROM ds_tail").collect()
        )
        assert got == list(range(10))
    finally:
        q.stop()


def test_stream_tail_starting_latest(spark, wh, tmp_path):
    root = wh.table_root("db.ds_stream_latest")
    spark.range(100).select(F.col("id").alias("k")).write.format(
        "sparkberg"
    ).mode("append").save(root)
    q = (
        spark.readStream.format("sparkberg")
        .option("starting_version", "latest")
        .load(root)
        .writeStream.format("memory")
        .queryName("ds_tail_latest")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert (
            spark.sql("SELECT count(*) c FROM ds_tail_latest").first().c == 0
        )
        spark.range(100, 103).select(F.col("id").alias("k")).write.format(
            "sparkberg"
        ).mode("append").save(root)
        q.processAllAvailable()
        got = sorted(
            r.k for r in spark.sql("SELECT k FROM ds_tail_latest").collect()
        )
        assert got == [100, 101, 102]
    finally:
        q.stop()


def test_stream_appended_files_rejects_row_changing_ops(spark, wh):
    root = wh.table_root("db.ds_stream_mix")
    spark.createDataFrame([(i,) for i in range(6)], "k int").write.format(
        "sparkberg"
    ).mode("append").save(root)
    t = wh.load_table("db.ds_stream_mix")
    t.delete_where(spark, "k == 2")
    with pytest.raises(ValueError, match="append-only"):
        t.appended_files(0, t.snapshot().version)


def test_warehouse_table_option_addressing(spark, wh):
    df = spark.range(6).select(F.col("id").alias("k"))
    (
        df.write.format("sparkberg")
        .option("warehouse", wh.path)
        .option("table", "db.ds_ident")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("sparkberg")
        .option("warehouse", wh.path)
        .option("table", "db.ds_ident")
        .load()
    )
    assert back.count() == 6
    assert wh.load_table("db.ds_ident").snapshot().total_rows == 6


def test_connector_vs_engine_concurrent_append(spark, wh):
    """A connector write racing an engine-API append must serialize
    through the CAS loop with no lost update."""
    import threading

    root = wh.table_root("db.ds_race")
    spark.createDataFrame([(0,)], "k int").write.format("sparkberg").mode(
        "append"
    ).save(root)
    t = wh.load_table("db.ds_race")

    errs = []

    def engine_appends():
        try:
            for i in range(3):
                t.append(spark.createDataFrame([(100 + i,)], "k int"))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = threading.Thread(target=engine_appends)
    th.start()
    for i in range(3):
        spark.createDataFrame([(200 + i,)], "k int").write.format(
            "sparkberg"
        ).mode("append").save(root)
    th.join()
    assert not errs
    got = sorted(r.k for r in spark.read.format("sparkberg").load(root).collect())
    assert got == [0, 100, 101, 102, 200, 201, 202]


def test_stream_expired_history_clear_error(spark, wh):
    from iceberg_loader_spark.tables.maintenance import expire_snapshots

    root = wh.table_root("db.ds_stream_exp")
    for i in range(6):
        spark.createDataFrame([(i,)], "k int").write.format(
            "sparkberg"
        ).mode("append").save(root)
    t = wh.load_table("db.ds_stream_exp")
    expire_snapshots(t, keep_last=2)
    t = wh.load_table("db.ds_stream_exp")
    with pytest.raises(ValueError, match="history expired"):
        t.appended_files(0, t.snapshot().version)


def test_typed_roundtrip_timestamps_doubles_arrays(spark, wh):
    """Value fidelity through the Arrow write+read path for the types
    the engine's tables actually carry (timestamps are the classic
    connector-breaker: tz handling must agree with the engine scan)."""
    import datetime

    root = wh.table_root("db.ds_typed")
    rows = [
        (
            1,
            datetime.datetime(2024, 3, 10, 6, 59, 59, 123456),
            1.5,
            "a",
            [1, 2, 3],
        ),
        (2, datetime.datetime(2024, 11, 3, 1, 30, 0), -0.25, None, []),
        (3, None, None, "c", None),
    ]
    schema = "k int, ts timestamp, x double, s string, arr array<bigint>"
    df = spark.createDataFrame(rows, schema)
    df.write.format("sparkberg").mode("append").save(root)

    via_connector = spark.read.format("sparkberg").load(root)
    via_engine = wh.load_table("db.ds_typed").scan(spark)
    a = sorted(map(tuple, via_connector.collect()))
    b = sorted(map(tuple, via_engine.collect()))
    assert a == b == sorted(map(tuple, df.collect()))


def test_stream_writer_end_to_end(spark, wh, tmp_path):
    """file-source stream → writeStream.format('sparkberg') lands every
    row exactly once; the batch-id marker advances with each commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"k": list(range(5))}), str(src / "a.parquet"))

    root = wh.table_root("db.ds_stream_sink")
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.format("sparkberg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(root)
    )
    try:
        q.processAllAvailable()
        # a second file arrives mid-stream
        pq.write_table(
            pa.table({"k": list(range(5, 9))}), str(src / "b.parquet")
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r.k for r in spark.read.format("sparkberg").load(root).collect()
    )
    assert got == list(range(9))
    t = Table(wh, "db.ds_stream_sink")
    assert int(t.properties()["streaming.sparkberg-writer.default.last-batch-id"]) >= 1


def test_stream_writer_replay_is_skipped(spark, wh, tmp_path):
    """Restarting from a checkpoint whose last commit already landed must
    not double-write: the writer's marker guard drops the replayed
    micro-batch (exactly-once under engine retries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src2"
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(src / "a.parquet"))
    root = wh.table_root("db.ds_stream_replay")
    ckpt = str(tmp_path / "ckpt2")

    def _run():
        q = (
            spark.readStream.schema("k long")
            .parquet(str(src))
            .writeStream.format("sparkberg")
            .option("checkpointLocation", ckpt)
            .start(root)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run()
    # wipe the sink's commit log entry by deleting the checkpoint's
    # commits dir → on restart the engine REPLAYS the last batch
    import shutil

    shutil.rmtree(f"{ckpt}/commits", ignore_errors=True)
    _run()
    got = sorted(
        r.k for r in spark.read.format("sparkberg").load(root).collect()
    )
    assert got == [1, 2, 3]  # no duplicates from the replayed batch


def test_stream_tail_source_resumes_offsets_across_restart(
    spark, wh, tmp_path
):
    """Source-side checkpoint recovery: a RESTARTED tail query must
    resume from the committed snapshot offset — the second run sees
    EXACTLY the snapshots appended while it was down, never re-reading
    the backfill (the source twin of the sink-side replay test)."""
    root = wh.table_root("db.ds_tail_restart")
    ckpt = str(tmp_path / "ckpt_tail")
    spark.range(5).select(F.col("id").alias("k")).write.format(
        "sparkberg"
    ).mode("append").save(root)

    def _drain() -> list[int]:
        seen: list[int] = []

        def _collect(batch_df, batch_id):
            seen.extend(r.k for r in batch_df.collect())

        q = (
            spark.readStream.format("sparkberg")
            .load(root)
            .writeStream.foreachBatch(_collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(seen)

    assert _drain() == list(range(5))  # run 1: the backfill

    # two appends land while the query is DOWN
    spark.range(5, 8).select(F.col("id").alias("k")).write.format(
        "sparkberg"
    ).mode("append").save(root)
    spark.range(8, 10).select(F.col("id").alias("k")).write.format(
        "sparkberg"
    ).mode("append").save(root)

    # run 2 must deliver exactly the missed delta — no backfill re-read
    assert _drain() == list(range(5, 10))


def test_stream_writer_into_branch_then_fast_forward(spark, wh, tmp_path):
    """Streaming WAP (Iceberg's spark.wap.branch): micro-batches commit
    to a BRANCH chain — main stays frozen and serveable — then
    fast-forward publishes the audited batches with their exactly-once
    markers intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = wh.table_root("db.ds_wap_stream")
    spark.range(3).selectExpr("id AS k").write.format("sparkberg").mode(
        "append"
    ).save(root)
    t = Table(wh, "db.ds_wap_stream")
    t.create_branch("audit")

    src = tmp_path / "wap_src"
    src.mkdir()
    pq.write_table(pa.table({"k": [10, 11]}), str(src / "a.parquet"))
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.format("sparkberg")
        .option("branch", "audit")
        .option("checkpointLocation", str(tmp_path / "wap_ckpt"))
        .start(root)
    )
    try:
        q.processAllAvailable()
        pq.write_table(pa.table({"k": [12]}), str(src / "b.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
    # main frozen; branch holds the streamed rows + marker
    assert spark.read.format("sparkberg").load(root).count() == 3
    br = t.branch("audit")
    assert sorted(r.k for r in br.scan(spark).collect()) == [0, 1, 2, 10, 11, 12]
    marker = "streaming.sparkberg-writer.default.last-batch-id"
    assert int(br.properties()[marker]) >= 1

    # fast-forward: rows AND the exactly-once marker reach main
    t.fast_forward_branch(t.branch("audit"))
    main = Table(wh, "db.ds_wap_stream")
    assert sorted(
        r.k for r in spark.read.format("sparkberg").load(root).collect()
    ) == [0, 1, 2, 10, 11, 12]
    assert int(main.properties()[marker]) >= 1


def test_batch_writer_into_missing_branch_fails_loudly(spark, wh):
    root = wh.table_root("db.ds_nobranch")
    spark.range(2).selectExpr("id AS k").write.format("sparkberg").mode(
        "append"
    ).save(root)
    import pytest as _pytest

    with _pytest.raises(Exception, match="no such branch"):
        spark.range(3).selectExpr("id AS k").write.format("sparkberg").mode(
            "append"
        ).option("branch", "ghost").save(root)
    # nothing landed on main
    assert spark.read.format("sparkberg").load(root).count() == 2


def test_batch_writer_into_branch(spark, wh):
    root = wh.table_root("db.ds_branch_w")
    spark.range(4).selectExpr("id AS k").write.format("sparkberg").mode(
        "append"
    ).save(root)
    t = Table(wh, "db.ds_branch_w")
    t.create_branch("exp")
    spark.range(100, 103).selectExpr("id AS k").write.format(
        "sparkberg"
    ).mode("append").option("branch", "exp").save(root)
    assert spark.read.format("sparkberg").load(root).count() == 4
    assert (
        spark.read.format("sparkberg").option("branch", "exp").load(root).count()
        == 7
    )


def test_stream_read_from_branch(spark, wh, tmp_path):
    """readStream .option("branch", …): tail the branch chain's append
    log — a pipeline can consume staged micro-batches while main stays
    frozen (the consumer side of streaming WAP)."""
    root = wh.table_root("db.ds_branch_tail")
    spark.range(2).selectExpr("id AS k").write.format("sparkberg").mode(
        "append"
    ).save(root)
    t = Table(wh, "db.ds_branch_tail")
    br = t.create_branch("stage")
    br.append(spark.range(10, 13).selectExpr("id AS k"))
    q = (
        spark.readStream.format("sparkberg")
        .option("branch", "stage")
        .load(root)
        .writeStream.format("memory")
        .queryName("branch_tail")
        .option("checkpointLocation", str(tmp_path / "bt_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r.k for r in spark.sql("SELECT k FROM branch_tail").collect())
        assert got == [0, 1, 10, 11, 12]
        # another branch append arrives; the tail picks up the delta only
        t.branch("stage").append(spark.range(20, 22).selectExpr("id AS k"))
        q.processAllAvailable()
        got = sorted(r.k for r in spark.sql("SELECT k FROM branch_tail").collect())
        assert got == [0, 1, 10, 11, 12, 20, 21]
    finally:
        q.stop()
    # main never advanced
    assert spark.read.format("sparkberg").load(root).count() == 2


def _arrow_batch(rows):
    import pyarrow as pa

    return pa.RecordBatch.from_pylist(
        [{"k": k} for k in rows], schema=pa.schema([("k", pa.int64())])
    )


def _table_rows(spark, wh, ident):
    return sorted(r.k for r in wh.load_table(ident).scan(spark).collect())


@pytest.mark.parametrize("legacy", [False, True])
def test_positional_delete_on_connector_files(spark, wh, legacy):
    """Connector files sit in the engine's data/<uuid>/ layout, so row
    lineage names them and a positional delete removes exactly the
    matching row — not the row at the same position in every other
    connector file. A file in the older connector directory
    (data/ds-<uuid>/) gets its real lineage path too."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_loader_spark.tables.table import _append_build, entry_from_footer

    root = wh.table_root("db.ds_posdel")
    first = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id int, v int")
    second = spark.createDataFrame([(4, 40), (5, 50), (6, 60)], "id int, v int")
    second.coalesce(1).write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_posdel")
    if legacy:
        rel = f"data/ds-{uuid.uuid4().hex}/task-{uuid.uuid4().hex}.parquet"
        os.makedirs(os.path.dirname(os.path.join(t.root, rel)))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([1, 2, 3], pa.int32()),
                    "v": pa.array([10, 20, 30], pa.int32()),
                }
            ),
            os.path.join(t.root, rel),
        )
        entry = entry_from_footer(os.path.join(t.root, rel), rel)
        t._commit_with_retry(_append_build([entry]))
    else:
        first.coalesce(1).write.format("sparkberg").mode("append").save(root)
    assert len(t.snapshot().files) == 2

    t.delete_where(spark, "v = 20", mode="mor-pos")
    got = sorted(r.id for r in wh.load_table("db.ds_posdel").scan(spark).collect())
    assert got == [1, 3, 4, 5, 6]


def test_connector_entries_equal_footer_reads(spark, wh):
    """Task-built manifest entries carry exactly what a footer read of
    the same file gives: path, rows, bytes and per-column stats."""
    import datetime
    import os
    import re

    from iceberg_loader_spark.tables.table import entry_from_footer

    root = wh.table_root("db.ds_entries")
    rows = [
        (1, datetime.datetime(2024, 3, 10, 6, 59, 59, 123456), 1.5, "a"),
        (2, None, -0.25, None),
        (3, datetime.datetime(2023, 1, 1), None, "zz"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, x double, s string")
    df.repartition(2).write.format("sparkberg").mode("append").save(root)
    t = wh.load_table("db.ds_entries")
    files = t.snapshot().files
    assert files and sum(f.rows for f in files) == 3
    for f in files:
        assert re.fullmatch(r"data/[0-9a-f]{32}/task-[0-9a-f]{32}\.parquet", f.path)
        footer = entry_from_footer(os.path.join(t.root, f.path), f.path)
        assert (f.path, f.rows, f.bytes, f.stats) == (
            footer.path,
            footer.rows,
            footer.bytes,
            footer.stats,
        )


def test_connector_commit_reads_no_footer(wh, monkeypatch):
    """The driver commit takes each file's entry from the task's commit
    message: with every parquet footer read failing on the driver, the
    commit still lands, and its entries equal a footer read."""
    import os

    import pyarrow.parquet as pq

    from iceberg_loader_spark.sources.spark_datasource import SparkbergWriter
    from iceberg_loader_spark.tables.table import entry_from_footer

    schema = T.StructType([T.StructField("k", T.LongType())])
    w = SparkbergWriter(schema, {"path": wh.table_root("db.ds_nofooter")}, False)
    messages = [
        w.write(iter([_arrow_batch([1, 2])])),
        w.write(iter([_arrow_batch([3])])),
        w.write(iter([])),
    ]

    def no_footer(*_a, **_k):
        raise AssertionError("driver read a parquet footer")

    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    monkeypatch.setattr(pq, "read_metadata", no_footer)
    w.commit(messages)
    monkeypatch.undo()

    t = wh.load_table("db.ds_nofooter")
    assert t.snapshot().total_rows == 3
    for f in t.snapshot().files:
        footer = entry_from_footer(os.path.join(t.root, f.path), f.path)
        assert (f.rows, f.bytes, f.stats) == (footer.rows, footer.bytes, footer.stats)


def test_stream_writer_concurrent_replay_commits_once(spark, wh, monkeypatch):
    """A run of the same micro-batch commits between this writer's task
    writes and its commit: the marker is checked on the commit parent, so
    this commit becomes a no-op and deletes its staged file, instead of
    appending the batch twice."""
    import os

    from iceberg_loader_spark.sources.spark_datasource import (
        SparkbergStreamWriter,
    )

    schema = T.StructType([T.StructField("k", T.LongType())])
    w = SparkbergStreamWriter(schema, {"path": wh.table_root("db.ds_race_eo")})
    w.commit([w.write(iter([_arrow_batch([0])]))], 0)
    replay = [w.write(iter([_arrow_batch([1, 2])]))]
    winner = [w.write(iter([_arrow_batch([1, 2])]))]

    orig = Table._commit_with_retry
    fired = []

    def racing(self, build):
        if not fired:
            fired.append(True)
            w.commit(winner, 1)
        return orig(self, build)

    monkeypatch.setattr(Table, "_commit_with_retry", racing)
    w.commit(replay, 1)
    monkeypatch.undo()

    t = wh.load_table("db.ds_race_eo")
    assert _table_rows(spark, wh, "db.ds_race_eo") == [0, 1, 2]
    marker = "streaming.sparkberg-writer.default.last-batch-id"
    assert t.properties()[marker] == "1"
    [staged] = replay[0].entries
    assert not os.path.exists(os.path.join(t.root, staged.path))
