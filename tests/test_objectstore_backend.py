"""Object-store metadata backend: the MetadataBackend seam proven on
S3-conditional-PUT semantics (no POSIX atomics anywhere in the commit
path). Mirrors the reference's S3/MinIO metadata deployment
(/root/reference examples/catalog.py:9-27, examples/docker-compose.yml)."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import types as T

from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import (
    CommitConflict,
    DataFile,
    TableMetadata,
    new_snapshot,
)
from iceberg_loader_spark.tables.objectstore import (
    InMemoryStore,
    ObjectStoreBackend,
    PreconditionFailed,
)
from iceberg_loader_spark.tables.table import Table


def _schema():
    return T.StructType([T.StructField("id", T.LongType())])


def _warehouse(tmp_path, store):
    return Warehouse(
        str(tmp_path),
        backend_factory=lambda root: ObjectStoreBackend(store, root),
    )


# ---------------------------------------------------------------------------
# store-level conditional-PUT contract
# ---------------------------------------------------------------------------


def test_store_conditional_put_contract():
    store = InMemoryStore()
    etag = store.put("k", b"1", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"2", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"2", if_match="wrong-etag")
    etag2 = store.put("k", b"2", if_match=etag)
    assert store.get("k") == (b"2", etag2)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"3", if_match=etag)  # stale etag loses the CAS


def test_backend_exclusive_manifest_write():
    backend = ObjectStoreBackend(InMemoryStore(), "wh/db.t")
    backend.write_manifest_exclusive(1, {"version": 1})
    with pytest.raises(CommitConflict):
        backend.write_manifest_exclusive(1, {"version": 1})
    assert backend.read_manifest(1) == {"version": 1}
    assert backend.list_versions() == [1]


def test_pointer_publish_is_monotonic():
    backend = ObjectStoreBackend(InMemoryStore(), "wh/db.t")
    backend.publish_current(3)
    backend.publish_current(2)  # delayed stale publish must not roll back
    assert backend.read_current() == 3
    backend.publish_current(4)
    assert backend.read_current() == 4


# ---------------------------------------------------------------------------
# table round-trip + commit semantics on the non-POSIX backend
# ---------------------------------------------------------------------------


def test_table_round_trip_on_object_store(spark, tmp_path):
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,)], _schema()))
    t.append(spark.createDataFrame([(3,)], _schema()))
    t2 = wh.load_table("db.t")
    assert sorted(r.id for r in t2.scan(spark).collect()) == [1, 2, 3]
    assert t2.meta.current_version() == 3
    # metadata lives ONLY in the store — nothing under <root>/_meta locally
    import os

    assert not os.path.exists(os.path.join(t2.root, "_meta"))
    # time travel still works through the backend
    assert t2.scan(spark, version=2).count() == 2


def test_stale_parent_commit_conflicts_on_object_store(tmp_path):
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    t = Table.create(wh, "db.t", _schema())
    snap = new_snapshot(t.snapshot(), "append", _schema().jsonValue(), [], [], {})
    t.meta.commit(snap, expected_parent=t.snapshot(1))
    dup = new_snapshot(t.snapshot(1), "append", _schema().jsonValue(), [], [], {})
    with pytest.raises(CommitConflict):
        t.meta.commit(dup, expected_parent=t.snapshot(1))


def test_orphan_recovery_on_object_store(tmp_path):
    """Crash between manifest PUT and pointer CAS leaves an orphan; the
    next committer must roll the pointer forward instead of wedging."""
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    t = Table.create(wh, "db.t", _schema())
    parent = t.snapshot()
    orphan = new_snapshot(
        parent,
        "append",
        parent.schema_json,
        parent.partition_spec,
        [DataFile(path="data/orphan.parquet", rows=1, bytes=1)],
        parent.properties,
    )
    t.meta.backend.write_manifest_exclusive(orphan.version, orphan.to_json())
    assert t.meta.current_version() == parent.version  # wedged
    # a later commit attempt recovers (publishes the orphan) and conflicts
    mine = new_snapshot(
        parent,
        "append",
        parent.schema_json,
        parent.partition_spec,
        [DataFile(path="data/mine.parquet", rows=1, bytes=1)],
        parent.properties,
    )
    with pytest.raises(CommitConflict):
        t.meta.commit(mine, expected_parent=parent)
    assert t.meta.current_version() == orphan.version
    # and a rebased commit on top now succeeds
    parent2 = t.snapshot()
    mine2 = new_snapshot(
        parent2,
        "append",
        parent2.schema_json,
        parent2.partition_spec,
        parent2.files + [DataFile(path="data/mine.parquet", rows=1, bytes=1)],
        parent2.properties,
    )
    t.meta.commit(mine2, expected_parent=parent2)
    assert t.meta.current_version() == orphan.version + 1


def test_threaded_commit_race_on_object_store(tmp_path):
    """Two threads race metadata commits through the conditional-PUT
    protocol; every append must land, versions strictly linear."""
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    Table.create(wh, "db.t", _schema())
    errors: list[Exception] = []

    def writer(wid: int):
        try:
            meta = wh.metadata("db.t")
            for i in range(5):
                for _ in range(200):
                    parent = meta.load_snapshot()
                    snap = new_snapshot(
                        parent,
                        "append",
                        parent.schema_json,
                        parent.partition_spec,
                        parent.files
                        + [DataFile(path=f"data/w{wid}_{i}.parquet", rows=1, bytes=1)],
                        parent.properties,
                    )
                    try:
                        meta.commit(snap, expected_parent=parent)
                        break
                    except CommitConflict:
                        time.sleep(0.001)
                else:  # pragma: no cover
                    raise RuntimeError(f"writer {wid} starved")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert errors == []
    meta = wh.metadata("db.t")
    final = meta.load_snapshot()
    assert {f.path for f in final.files} == {
        f"data/w{w}_{i}.parquet" for w in (1, 2) for i in range(5)
    }
    assert final.version == 11
    assert meta.list_versions() == list(range(1, 12))


def test_expiry_works_through_backend(tmp_path):
    store = InMemoryStore()
    backend = ObjectStoreBackend(store, "wh/db.t")
    meta = TableMetadata("/nonexistent-root", backend=backend)
    s1 = new_snapshot(None, "create", {"t": 1}, [], [], {})
    meta.commit(s1, expected_parent=None)
    s2 = new_snapshot(s1, "append", {"t": 1}, [], [], {})
    meta.commit(s2, expected_parent=s1)
    meta.delete_snapshot_manifest(1)
    assert meta.list_versions() == [2]
    with pytest.raises(FileNotFoundError):
        meta.load_snapshot(1)


def test_cow_validation_and_compaction_on_object_store(spark, tmp_path):
    """delete_where's snapshot validation and rewrite_data_files both work
    unchanged on the conditional-PUT backend (the seam is below Table)."""
    from iceberg_loader_spark.tables.format import ConcurrentModification
    from iceberg_loader_spark.tables.maintenance import (
        expire_snapshots,
        rewrite_data_files,
    )

    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    t = Table.create(wh, "db.t", _schema())
    for v in (1, 2, 3):
        t.append(spark.createDataFrame([(v,)], _schema()))
    t = wh.load_table("db.t")

    # concurrent append of a row the delete matches, between candidate
    # selection and commit -> abort
    orig = t._commit_with_retry

    def inject(*args):
        wh.load_table("db.t").append(spark.createDataFrame([(1,)], _schema()))
        return orig(*args)

    t._commit_with_retry = inject
    with pytest.raises(ConcurrentModification):
        t.delete_where(spark, "id == 1")
    assert sorted(
        r.id for r in wh.load_table("db.t").scan(spark).collect()
    ) == [1, 1, 2, 3]

    # compaction + expiry through the backend
    t2 = wh.load_table("db.t")
    rewrite_data_files(t2, spark)
    res = expire_snapshots(t2, keep_last=1)
    assert res["expired"] > 0
    final = wh.load_table("db.t")
    assert sorted(r.id for r in final.scan(spark).collect()) == [1, 1, 2, 3]
    assert final.meta.list_versions() == [final.meta.current_version()]


def test_merge_resolves_files_on_object_store_with_encoded_paths(
    spark, tmp_path
):
    """merge() locates affected files by round-tripping
    input_file_name()'s URI back to a manifest-relative path
    (table.py:546-566). Prove that resolution survives a root that
    URI-encodes (space + percent) on the conditional-PUT backend, and
    that only the files actually containing matching keys are
    rewritten."""
    store = InMemoryStore()
    # space and % both percent-encode in the file: URI Spark reports
    root = tmp_path / "wh space" / "od%d warehouse"
    root.parent.mkdir(parents=True, exist_ok=True)
    wh = _warehouse(root, store)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    t = Table.create(wh, "db.m", schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1))
    t.append(spark.createDataFrame([(3, "c"), (4, "d")], schema).coalesce(1))
    t = wh.load_table("db.m")
    files_before = {f.path for f in t.snapshot().files}
    assert len(files_before) == 2

    # touches only the second file's keys + inserts one new row
    src = spark.createDataFrame([(3, "C"), (5, "e")], schema)
    snap = t.merge(spark, src, ["id"])
    assert snap.summary["updated-records"] == 1
    assert snap.summary["rewritten-files"] == 1, (
        "URI round-trip must resolve exactly the one affected file"
    )
    # untouched file carried over verbatim
    assert len(files_before & {f.path for f in snap.files}) == 1

    got = {
        (r.id, r.val)
        for r in wh.load_table("db.m").scan(spark).collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "C"), (4, "d"), (5, "e")}


def test_list_tables_sees_empty_table_on_object_store(tmp_path):
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    Table.create(wh, "db.empty", _schema())
    assert wh.list_tables("db") == ["db.empty"]


def test_drop_table_removes_store_metadata(spark, tmp_path):
    """drop_table must delete the manifests from the STORE, not just the
    local data dir — otherwise the table resurrects on the next load."""
    store = InMemoryStore()
    wh = _warehouse(tmp_path, store)
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    assert wh.table_exists("db.t")
    wh.drop_table("db.t")
    assert not wh.table_exists("db.t")
    assert store.list_keys("") == []  # no metadata blobs left behind
    # and the identifier is reusable
    Table.create(wh, "db.t", _schema())
    assert wh.load_table("db.t").snapshot().version == 1
