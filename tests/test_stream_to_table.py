"""Streaming ingest integration (SURVEY.md §3.4 Spark lifecycle): a
Structured Streaming source drained through foreachBatch into the
warehouse via SparkLoader — one snapshot per micro-batch, the streaming
form of the reference's commit-interval loop (core/loader.py:210-235)."""

from __future__ import annotations

import pytest

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.streaming.windows import streaming_events
from iceberg_loader_spark.tables import Warehouse


@pytest.mark.requires_testdata
def test_foreach_batch_ingest_snapshots_and_rows(spark, sf_dir, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(commit_interval=100, load_timestamp=False)

    stream = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def sink(batch_df, batch_id: int) -> None:
        loader.load_data(batch_df, "db.events_sink", cfg)

    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    t = wh.load_table("db.events_sink")
    src_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert t.scan(spark).count() == src_rows
    # ≥1 snapshot per micro-batch, none lost
    assert len(t.history()) >= 1
    assert t.snapshot().total_rows == src_rows


@pytest.mark.requires_testdata
def test_idempotent_sink_exactly_once_under_replay(spark, sf_dir, tmp_path):
    """IdempotentTableSink: a replayed micro-batch (foreachBatch's
    at-least-once recovery contract) must be skipped, a fresh batch must
    land, and the progress marker must ride the SAME snapshot as the
    rows."""
    from iceberg_loader_spark.streaming import IdempotentTableSink

    wh = Warehouse(str(tmp_path / "wh"))
    sink = IdempotentTableSink(wh, "db.eo_sink")

    stream = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    t = wh.load_table("db.eo_sink")
    src_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert t.scan(spark).count() == src_rows
    n_snaps = len(t.history())
    last_batch = int(t.properties()["streaming.default.last-batch-id"])
    assert last_batch >= 0

    # simulate the engine re-executing the last micro-batch after a crash
    replay_df = t.scan(spark).limit(5)
    sink(replay_df, last_batch)
    t = wh.load_table("db.eo_sink")
    assert t.scan(spark).count() == src_rows, "replayed batch must be skipped"
    assert len(t.history()) == n_snaps
    assert sink.skipped_batches == 1

    # a genuinely new batch lands, and its marker is in the same snapshot
    sink(replay_df, last_batch + 1)
    t = wh.load_table("db.eo_sink")
    assert t.scan(spark).count() == src_rows + 5
    assert (
        t.properties()["streaming.default.last-batch-id"]
        == str(last_batch + 1)
    )
    assert len(t.history()) == n_snaps + 1


@pytest.mark.requires_testdata
def test_table_tail_reader_offsets_and_replay(spark, sf_dir, tmp_path):
    """TableTailReader: each poll returns exactly the delta; caught-up
    polls return None; rewinding the position replays a batch byte-for-
    byte (offset semantics); an end-to-end tail→sink pipeline is
    exactly-once by construction."""
    import pyspark.sql.functions as F

    from iceberg_loader_spark.streaming import TableTailReader
    from iceberg_loader_spark.tables.table import Table

    wh = Warehouse(str(tmp_path / "wh"))
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
    )
    t = Table.create(wh, "db.tail", docs.schema)
    reader = TableTailReader(t, from_version=t.meta.current_version())

    # caught up before any commit
    assert reader.next_batch(spark) is None

    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    v1 = t.meta.current_version()
    b1 = reader.next_batch(spark)
    n_even = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert b1.count() == n_even
    assert reader.position == v1
    assert reader.next_batch(spark) is None  # caught up again

    t.append(docs.filter(F.col("doc_id") % 2 == 1))
    b2 = reader.next_batch(spark)
    assert b2.count() == docs.count() - n_even

    # replay: rewind the offset → identical batch content
    reader.position = v1
    b2_replay = reader.next_batch(spark)
    assert sorted(r["doc_id"] for r in b2_replay.collect()) == sorted(
        r["doc_id"] for r in b2.collect()
    )

    # drain generator form
    t.append(docs.limit(0))  # metadata-only append: zero-row batch
    pulled = list(reader.batches(spark))
    assert len(pulled) == 1 and pulled[0].count() == 0


@pytest.mark.requires_testdata
def test_fanout_sink_routes_exactly_once_with_partial_failure(
    spark, sf_dir, tmp_path
):
    """FanOutSink: one micro-batch routed to two tables; a replay after a
    PARTIAL failure (route A committed, crash before route B) must skip A
    and land B — the per-route markers make the composite idempotent."""
    from pyspark.sql import functions as F

    from iceberg_loader_spark.streaming import FanOutSink, IdempotentTableSink

    wh = Warehouse(str(tmp_path / "wh"))
    a_sink = IdempotentTableSink(wh, "db.route_a")
    b_sink = IdempotentTableSink(wh, "db.route_b")
    a_route = lambda df: df.filter(F.col("event_id") % 2 == 0)  # noqa: E731
    b_route = lambda df: df.filter(F.col("event_id") % 2 == 1)  # noqa: E731
    fanout = FanOutSink([(a_route, a_sink), (b_route, b_sink)])

    batch = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    n_even = batch.filter("event_id % 2 = 0").count()
    n_odd = batch.count() - n_even

    # simulate: route A committed batch 0, crash before route B ran
    a_sink(a_route(batch), 0)
    assert wh.load_table("db.route_a").scan(spark).count() == n_even
    assert not wh.table_exists("db.route_b")

    # recovery replays the WHOLE batch through the composite
    fanout(batch, 0)
    assert a_sink.skipped_batches == 1  # replay detected on A
    assert wh.load_table("db.route_a").scan(spark).count() == n_even
    assert wh.load_table("db.route_b").scan(spark).count() == n_odd

    # a second full replay is a no-op on both routes
    fanout(batch, 0)
    assert a_sink.skipped_batches == 2
    assert b_sink.skipped_batches == 1
    assert wh.load_table("db.route_a").scan(spark).count() == n_even
    assert wh.load_table("db.route_b").scan(spark).count() == n_odd

    # a fresh batch still lands on both
    fanout(batch, 1)
    assert wh.load_table("db.route_a").scan(spark).count() == 2 * n_even
    assert wh.load_table("db.route_b").scan(spark).count() == 2 * n_odd


def test_fanout_sink_rejects_duplicate_route_targets(tmp_path):
    """Two routes on the same (table, marker_key) would fight over one
    replay marker and silently drop the second route's rows — rejected
    at construction."""
    import pytest

    from iceberg_loader_spark.streaming import FanOutSink, IdempotentTableSink

    wh = Warehouse(str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="duplicate route target"):
        FanOutSink(
            [
                (None, IdempotentTableSink(wh, "db.t")),
                (None, IdempotentTableSink(wh, "db.t")),
            ]
        )
    # distinct marker_key on the same table is allowed
    FanOutSink(
        [
            (None, IdempotentTableSink(wh, "db.t", marker_key="a")),
            (None, IdempotentTableSink(wh, "db.t", marker_key="b")),
        ]
    )


@pytest.mark.requires_testdata
def test_streaming_sink_recovers_across_restart(spark, sf_dir, tmp_path):
    """Checkpoint recovery through the exactly-once sink: a stream is
    stopped mid-source, new files arrive, and a RESTARTED query on the
    same checkpoint must land exactly the missing rows — no re-ingest of
    pre-restart batches, no gaps, markers strictly advancing."""
    from pyspark.sql import functions as F

    from iceberg_loader_spark.streaming import IdempotentTableSink

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)

    wh = Warehouse(str(tmp_path / "wh"))

    def _run_stream() -> None:
        # a FRESH sink instance each run: recovery state must live in the
        # table marker + checkpoint, never in driver memory
        sink = IdempotentTableSink(wh, "db.restart_sink")
        q = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run_stream()
    t = wh.load_table("db.restart_sink")
    assert t.scan(spark).count() == first.count()
    marker1 = int(t.properties()["streaming.default.last-batch-id"])

    # new data lands while the query is DOWN
    second.coalesce(1).write.mode("append").parquet(src)
    _run_stream()

    t = wh.load_table("db.restart_sink")
    got = t.scan(spark)
    assert got.count() == events.count()  # no gaps
    assert got.select("event_id").distinct().count() == events.count()  # no dups
    marker2 = int(t.properties()["streaming.default.last-batch-id"])
    assert marker2 > marker1  # offsets resumed past the pre-restart batches


def test_tail_from_version_zero_returns_every_appended_row(spark, tmp_path):
    """The table's ``create`` snapshot is row-preserving: an incremental
    scan from 0 and a tail reader at its default position deliver every
    appended row instead of refusing the table's first snapshot."""
    from pyspark.sql import types as T

    from iceberg_loader_spark.streaming import TableTailReader
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType([T.StructField("k", T.LongType())])
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.tail0", schema)
    t.append(spark.createDataFrame([(1,), (2,)], schema))
    t.append(spark.createDataFrame([(3,)], schema))

    assert sorted(r.k for r in t.scan_incremental(spark, 0).collect()) == [
        1,
        2,
        3,
    ]
    reader = TableTailReader(t)
    batch = reader.next_batch(spark)
    assert sorted(r.k for r in batch.collect()) == [1, 2, 3]
    assert reader.next_batch(spark) is None


def test_idempotent_sink_concurrent_replay_commits_once(
    spark, tmp_path, monkeypatch
):
    """Two runs of the SAME micro-batch race: the rival's commit lands
    after this sink wrote its files but before its commit. The marker is
    checked against the commit parent, so this sink skips — its staged
    files are deleted and it counts the skip — instead of appending the
    rows a second time."""
    import os

    from iceberg_loader_spark.streaming import IdempotentTableSink
    from iceberg_loader_spark.tables.table import Table

    wh = Warehouse(str(tmp_path / "wh"))
    sink = IdempotentTableSink(wh, "db.eo_race")
    rival = IdempotentTableSink(wh, "db.eo_race")
    sink(spark.createDataFrame([(0,)], "k long"), 0)
    batch = spark.createDataFrame([(1,), (2,)], "k long")

    orig = Table._commit_with_retry
    fired = []

    def racing(self, *args):
        if not fired:
            fired.append(True)
            rival(batch, 1)
        return orig(self, *args)

    monkeypatch.setattr(Table, "_commit_with_retry", racing)
    sink(batch, 1)
    monkeypatch.undo()

    t = wh.load_table("db.eo_race")
    assert sorted(r.k for r in t.scan(spark).collect()) == [0, 1, 2]
    assert t.properties()["streaming.default.last-batch-id"] == "1"
    assert (sink.skipped_batches, rival.skipped_batches) == (1, 0)
    on_disk = {
        os.path.relpath(os.path.join(d, fn), t.root)
        for d, _, fns in os.walk(os.path.join(t.root, "data"))
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert on_disk == {f.path for f in t.snapshot().files}
