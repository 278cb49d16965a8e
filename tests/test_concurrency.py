"""Concurrent-writer behavior: copy-on-write snapshot validation
(ConcurrentModification), the two-writer commit race, and orphan-manifest
recovery.

Reference analogue: the reference's CI runs its e2e scenarios against a
real concurrent Hive/MinIO stack (/root/reference
tools/run_examples_smoke.sh:28-41); here the same guarantees are exercised
against the embedded warehouse — in-process injection for the validation
paths, real separate processes for the commit race.
"""

from __future__ import annotations

import multiprocessing
import time
from datetime import datetime

import pytest
from pyspark.sql import types as T

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import (
    CommitConflict,
    ConcurrentModification,
    DataFile,
    TableMetadata,
    new_snapshot,
)
from iceberg_loader_spark.tables.maintenance import rewrite_data_files
from iceberg_loader_spark.tables.table import Table


def _schema():
    return T.StructType([T.StructField("id", T.LongType())])


def _inject_before_commit(t: Table, concurrent_action):
    """Run ``concurrent_action`` after candidate selection but before the
    commit loop — the window snapshot validation must cover."""
    orig = t._commit_with_retry

    def wrapper(*args):
        concurrent_action()
        return orig(*args)

    t._commit_with_retry = wrapper


# ---------------------------------------------------------------------------
# delete_where vs concurrent append
# ---------------------------------------------------------------------------


def test_delete_aborts_on_conflicting_concurrent_append(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    loader.load_data(
        [{"id": 1, "ts": "2023-01-01"}, {"id": 2, "ts": "2023-01-02"}],
        "db.t",
        cfg,
    )
    t = wh.load_table("db.t")
    schema = t.schema()

    def concurrent_append():
        # lands in the SAME partition the delete predicate targets — its
        # rows were never scanned, so the delete must not commit
        wh.load_table("db.t").append(
            spark.createDataFrame([(99, datetime(2023, 1, 1))], schema)
        )

    _inject_before_commit(t, concurrent_append)
    with pytest.raises(ConcurrentModification):
        t.delete_where(spark, "ts == '2023-01-01'")
    # nothing was lost: both original rows + the concurrent row remain
    assert wh.load_table("db.t").scan(spark).count() == 3


def test_delete_tolerates_non_matching_concurrent_append(spark, tmp_path):
    """A concurrent append whose files provably cannot match the delete
    predicate (partition pruning) must NOT abort the delete (ADVICE r2:
    steady append load must not starve long deletes)."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    loader.load_data(
        [{"id": 1, "ts": "2023-01-01"}, {"id": 2, "ts": "2023-01-02"}],
        "db.t",
        cfg,
    )
    t = wh.load_table("db.t")
    schema = t.schema()

    def concurrent_append():
        # different partition — metadata proves it can't match
        wh.load_table("db.t").append(
            spark.createDataFrame([(99, datetime(2023, 2, 5))], schema)
        )

    _inject_before_commit(t, concurrent_append)
    t.delete_where(spark, "ts == '2023-01-01'")
    rows = {
        (r.id, r.ts.strftime("%Y-%m-%d"))
        for r in wh.load_table("db.t").scan(spark).collect()
    }
    # deleted row gone, concurrent append preserved
    assert rows == {(2, "2023-01-02"), (99, "2023-02-05")}


# ---------------------------------------------------------------------------
# merge vs concurrent append
# ---------------------------------------------------------------------------


def test_merge_aborts_on_concurrent_append(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,)], _schema()))
    t = wh.load_table("db.t")

    def concurrent_append():
        # could hold a matching key the merge's semi-join never saw
        wh.load_table("db.t").append(spark.createDataFrame([(3,)], _schema()))

    _inject_before_commit(t, concurrent_append)
    with pytest.raises(ConcurrentModification):
        t.merge(spark, spark.createDataFrame([(2,), (3,)], _schema()), ["id"])
    # table intact: originals + the concurrent append, no merge output
    assert sorted(
        r.id for r in wh.load_table("db.t").scan(spark).collect()
    ) == [1, 2, 3]


# ---------------------------------------------------------------------------
# compaction vs concurrent commits
# ---------------------------------------------------------------------------


def test_compaction_aborts_when_input_removed(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    t.append(spark.createDataFrame([(2,)], _schema()))
    t = wh.load_table("db.t")

    def concurrent_delete():
        # removes a file the compaction already rewrote — committing the
        # compaction would resurrect the deleted row
        wh.load_table("db.t").delete_where(spark, "id == 1")

    _inject_before_commit(t, concurrent_delete)
    with pytest.raises(ConcurrentModification):
        rewrite_data_files(t, spark)
    assert sorted(
        r.id for r in wh.load_table("db.t").scan(spark).collect()
    ) == [2]


def test_compaction_carries_over_concurrent_append(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    t.append(spark.createDataFrame([(2,)], _schema()))
    t = wh.load_table("db.t")

    def concurrent_append():
        wh.load_table("db.t").append(spark.createDataFrame([(3,)], _schema()))

    _inject_before_commit(t, concurrent_append)
    rewrite_data_files(t, spark)
    t2 = wh.load_table("db.t")
    assert sorted(r.id for r in t2.scan(spark).collect()) == [1, 2, 3]
    assert t2.snapshot().operation == "replace"


# ---------------------------------------------------------------------------
# real two-process append race through the optimistic commit loop
# ---------------------------------------------------------------------------


def _race_writer(root: str, wid: int, n_commits: int) -> None:
    meta = TableMetadata(root)
    for i in range(n_commits):
        for _attempt in range(100):
            parent = meta.load_snapshot()
            entry = DataFile(path=f"data/w{wid}_{i}.parquet", rows=1, bytes=1)
            snap = new_snapshot(
                parent,
                "append",
                parent.schema_json,
                parent.partition_spec,
                parent.files + [entry],
                parent.properties,
            )
            try:
                meta.commit(snap, expected_parent=parent)
                break
            except CommitConflict:
                time.sleep(0.001)
        else:  # pragma: no cover
            raise RuntimeError(f"writer {wid} exhausted retries on commit {i}")


def test_two_process_append_race_loses_no_commit(tmp_path):
    """Two OS processes race 5 appends each through the exclusive-create
    commit protocol; every file must land and versions stay linear."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    ctx = multiprocessing.get_context("fork")
    procs = [
        ctx.Process(target=_race_writer, args=(t.root, wid, 5))
        for wid in (1, 2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    final = wh.load_table("db.t").snapshot()
    paths = {f.path for f in final.files}
    expected = {f"data/w{w}_{i}.parquet" for w in (1, 2) for i in range(5)}
    assert paths == expected, f"lost commits: {expected - paths}"
    assert final.version == 11  # create + 10 appends, strictly linear
    assert sorted(wh.load_table("db.t").meta.list_versions()) == list(
        range(1, 12)
    )


# ---------------------------------------------------------------------------
# orphan-manifest recovery (crash between manifest write and publish)
# ---------------------------------------------------------------------------


def test_orphan_manifest_recovery_unwedges_the_table(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    t = wh.load_table("db.t")
    parent = t.snapshot()
    # simulate a writer that crashed AFTER the exclusive manifest write but
    # BEFORE publishing _current: valid next manifest, pointer not moved
    orphan = new_snapshot(
        parent,
        "append",
        parent.schema_json,
        parent.partition_spec,
        parent.files + [DataFile(path="data/orphan.parquet", rows=1, bytes=1)],
        parent.properties,
    )
    t.meta.backend.write_manifest_exclusive(orphan.version, orphan.to_json())
    assert t.meta.current_version() == parent.version  # wedged state
    # a later writer must roll the pointer forward and commit on top
    # instead of exhausting retries against the orphan
    t2 = wh.load_table("db.t")
    t2.append(spark.createDataFrame([(2,)], _schema()))
    final = wh.load_table("db.t")
    assert final.meta.current_version() == orphan.version + 1
    history_ops = [s.operation for s in final.history()]
    assert history_ops.count("append") == 3  # v1 data + orphan + new append
    # the orphan's file is honored (rolled forward, not deleted)
    assert "data/orphan.parquet" in {f.path for f in final.snapshot().files}


def test_partial_orphan_manifest_is_left_alone(tmp_path):
    """An unparseable (partially written) manifest must not be rolled
    forward — it may be a concurrent writer mid-flight. The commit
    surfaces CommitConflict and the pointer stays put."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    backend = t.meta.backend
    with open(backend.manifest_path(2), "w") as f:
        f.write('{"version": 2, "parent_ver')  # torn write
    snap = new_snapshot(
        t.snapshot(), "append", _schema().jsonValue(), [], [], {}
    )
    with pytest.raises(CommitConflict):
        t.meta.commit(snap, expected_parent=t.snapshot(1))
    assert t.meta.current_version() == 1


# ---------------------------------------------------------------------------
# ADVICE r2: row-preserving evolve-schema must not break incremental scans
# ---------------------------------------------------------------------------


def test_incremental_scan_skips_evolve_schema(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1}], "db.t", cfg)
    t = wh.load_table("db.t")
    base = t.meta.current_version()
    t.add_columns([T.StructField("extra", T.LongType())])
    loader.load_data([{"id": 2, "extra": 7}], "db.t", cfg)
    t = wh.load_table("db.t")
    got = t.scan_incremental(spark, base).collect()
    assert [r.id for r in got] == [2]


def test_incremental_scan_with_audit_column_evolution(spark, tmp_path):
    """The loader's force-evolved load-timestamp column (an evolve-schema
    snapshot on a pre-existing table) must leave the history incrementally
    scannable (ADVICE r2 medium)."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    loader.load_data([{"id": 1}], "db.t", LoaderConfig(load_timestamp=False))
    t = wh.load_table("db.t")
    base = t.meta.current_version()
    # default config: load_timestamp=True → audit column force-evolved
    loader.load_data([{"id": 2}], "db.t", LoaderConfig())
    t = wh.load_table("db.t")
    got = t.scan_incremental(spark, base).collect()
    assert [r.id for r in got] == [2]


# ---------------------------------------------------------------------------
# merge-on-read delete vs concurrent append
# ---------------------------------------------------------------------------


def test_mor_delete_aborts_on_conflicting_concurrent_append(spark, tmp_path):
    """A concurrently appended file that MAY match the MoR predicate
    would be silently swallowed by the higher-sequence predicate —
    the commit must abort instead (same posture as the CoW path)."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    loader.load_data(
        [{"id": 1, "ts": "2023-01-01"}, {"id": 2, "ts": "2023-01-02"}],
        "db.t",
        cfg,
    )
    t = wh.load_table("db.t")
    schema = t.schema()

    def concurrent_append():
        wh.load_table("db.t").append(
            spark.createDataFrame([(99, datetime(2023, 1, 1))], schema)
        )

    _inject_before_commit(t, concurrent_append)
    with pytest.raises(ConcurrentModification):
        t.delete_where(spark, "ts == '2023-01-01'", mode="mor")
    assert wh.load_table("db.t").scan(spark).count() == 3


def test_mor_delete_tolerates_non_matching_concurrent_append(spark, tmp_path):
    """An append whose partition metadata PROVES it cannot match carries
    over: the MoR delete commits and only hides what it targeted."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    loader.load_data(
        [{"id": 1, "ts": "2023-01-01"}, {"id": 2, "ts": "2023-01-02"}],
        "db.t",
        cfg,
    )
    t = wh.load_table("db.t")
    schema = t.schema()

    def concurrent_append():
        wh.load_table("db.t").append(
            spark.createDataFrame([(99, datetime(2023, 1, 2))], schema)
        )

    _inject_before_commit(t, concurrent_append)
    t.delete_where(spark, "ts == '2023-01-01'", mode="mor")
    out = wh.load_table("db.t").scan(spark)
    assert out.count() == 2  # id=2 original + id=99 concurrent
    assert sorted(r["id"] for r in out.collect()) == [2, 99]


def test_mor_merge_supersedes_concurrent_append(spark, tmp_path):
    """merge(mode='mor') commits under snapshot isolation: a concurrent
    append with a matching key gets a LOWER sequence than the equality
    delete and is superseded instead of aborting the merge (Flink-CDC
    last-writer-wins semantics, documented on _merge_mor)."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1, "v": 10}, {"id": 2, "v": 20}], "db.t", cfg)
    t = wh.load_table("db.t")
    schema = t.schema()

    def concurrent_append():
        wh.load_table("db.t").append(
            spark.createDataFrame([(1, 11)], schema)
        )

    _inject_before_commit(t, concurrent_append)
    src = spark.createDataFrame([(1, 99)], schema)
    t.merge(spark, src, ["id"], mode="mor")

    out = wh.load_table("db.t").scan(spark)
    rows = {(r["id"], r["v"]) for r in out.collect()}
    # both the original and the concurrent id=1 versions are superseded
    assert rows == {(1, 99), (2, 20)}


# ---------------------------------------------------------------------------
# concurrent schema evolution
# ---------------------------------------------------------------------------


def test_concurrent_add_columns_commits_one_evolution(tmp_path):
    """Two writers adding the same column converge to ONE evolve-schema
    snapshot: the loser's rebase finds the column on its refreshed
    parent and commits nothing."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    extra = T.StructField("extra", T.StringType())
    _inject_before_commit(t, lambda: wh.load_table("db.t").add_columns([extra]))

    snap = t.add_columns([extra])

    evolutions = [s for s in t.history() if s.operation == "evolve-schema"]
    assert [s.version for s in evolutions] == [snap.version]
    assert t.schema().names == ["id", "extra"]


def test_append_keeps_concurrently_added_column(spark, tmp_path):
    """An append whose head predates a concurrent add_columns commits on
    the evolved parent: the column survives and both writers' rows scan
    back."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    extra = T.StructField("extra", T.StringType())

    def concurrent_evolve_and_append():
        other = wh.load_table("db.t")
        other.add_columns([extra])
        other.append(spark.createDataFrame([(2, "x")], other.schema()))

    _inject_before_commit(t, concurrent_evolve_and_append)
    t.append(spark.createDataFrame([(1,)], _schema()))

    out = wh.load_table("db.t")
    assert out.schema().names == ["id", "extra"]
    assert sorted(tuple(r) for r in out.scan(spark).collect()) == [
        (1, None),
        (2, "x"),
    ]


# ---------------------------------------------------------------------------
# the operation's own head and the retry budget
# ---------------------------------------------------------------------------


def test_stale_head_conflict_is_not_a_retry(spark, tmp_path):
    """A write commits first on the head it resolved. An append landing
    between that read and the commit is not a retry: with
    ``commit.retry.num-retries`` 0 the write still commits on the
    re-read head, and a conflict on that re-read head then raises."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(
        wh, "db.t", _schema(), properties={"commit.retry.num-retries": "0"}
    )

    def rival(v):
        return lambda: wh.load_table("db.t").append(
            spark.createDataFrame([(v,)], _schema())
        )

    _inject_before_commit(t, rival(2))
    t.append(spark.createDataFrame([(1,)], _schema()))
    assert sorted(r.id for r in t.scan(spark).collect()) == [1, 2]

    t = wh.load_table("db.t")
    orig = t.meta.commit
    rivals = [rival(3), rival(4)]

    def racing(*args, **kwargs):
        if rivals:
            rivals.pop(0)()
        return orig(*args, **kwargs)

    t.meta.commit = racing
    with pytest.raises(CommitConflict):
        t.append(spark.createDataFrame([(5,)], _schema()))
    assert sorted(r.id for r in t.scan(spark).collect()) == [1, 2, 3, 4]
