"""Table-format mechanics: commits, conflicts, time travel, pruning."""

import os

import pytest
from pyspark.sql import types as T

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.filters import (
    parse_filter,
    prune_files,
    pushable_float_term,
    split_terms,
)
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
    t.meta.commit(stale, expected_parent=t.snapshot(1))
    dup = new_snapshot(t.snapshot(None), "append", _schema().jsonValue(), [], [], {})
    with pytest.raises(CommitConflict):
        t.meta.commit(dup, expected_parent=t.snapshot(1))


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


def test_pushable_float_term():
    """Only <, <=, == and IN against nonzero numbers: NaN, which Spark
    orders above every number, meets none of them, and a zero literal
    meets a -0.0 that a footer bound keeps the sign of; a quoted
    literal may cast to NaN."""
    terms = split_terms("x < 5 and x <= -1.5e3 and x == 2 and x in (1, 2.5)")
    assert all(pushable_float_term(op, lit) for _, op, lit in terms)
    for where in (
        "x > 5",
        "x >= 5",
        "x != 5",
        "x == 'NaN'",
        "x <= 'NaN'",
        "x in (1, 'NaN')",
        "x == 0",
        "x <= -0.0",
        "x in (1, .0)",
    ):
        [(_, op, lit)] = split_terms(where)
        assert not pushable_float_term(op, lit), where


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


def test_rollback_restores_delete_files(spark, tmp_path):
    """A rollback restores the target's equality-delete files along with
    its data files: rolling back past a key delete shows the key again,
    and rolling back past the compaction that applied one keeps the key
    deleted."""
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    t = Table.create(Warehouse(str(tmp_path)), "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,), (3,)], _schema()))
    before = t.meta.current_version()
    t.delete_by_keys(spark, spark.createDataFrame([(2,)], _schema()), ["id"])
    deleted = t.meta.current_version()

    def ids():
        return sorted(r.id for r in t.scan(spark).collect())

    assert ids() == [1, 3]
    t.rollback(before)
    assert ids() == [1, 2, 3]
    t.rollback(deleted)
    rewrite_data_files(t, spark)
    assert not t.snapshot().delete_files
    t.rollback(deleted)
    assert ids() == [1, 3]


def test_scan_keeps_nan_above_float_bounds(spark, tmp_path):
    """Spark orders NaN above every number and its writer records a NaN
    as a float column's max: a range filter the NaN row meets keeps the
    file, one it fails prunes it."""
    import math

    schema = T.StructType([T.StructField("x", T.DoubleType())])
    t = Table.create(Warehouse(str(tmp_path)), "db.t", schema)
    t.append(spark.createDataFrame([(1.0,), (float("nan"),)], schema).coalesce(1))
    [f] = t.snapshot().files
    assert f.stats["x"][0] == 1.0 and math.isnan(f.stats["x"][1])
    for where, want in (("x > 5", 1), ("x >= 1", 2), ("x < 0", 0), ("x == 0", 0)):
        assert prune_files(where, [f], [])[0] == ([f] if want else []), where
        assert t.scan(spark, where=where).count() == want, where


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
    # one old file whose ts range covers the pruned day: only its
    # missing partition value could drop it
    t.append(
        spark.createDataFrame(
            [(1, datetime(2023, 1, 1)), (2, datetime(2023, 3, 2))], schema
        ).coalesce(1)
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
    """Metadata-read budget: a write resolves the head once and commits
    on it without re-reading it, a loader flush's schema evolution being
    that one read, and expiry resolves only the history. A change that
    adds a ``load_snapshot`` call to one of these paths fails here."""
    from datetime import datetime

    from iceberg_loader_spark.tables import table as table_module
    from iceberg_loader_spark.tables.format import TableMetadata
    from iceberg_loader_spark.tables.maintenance import (
        expire_snapshots,
        rewrite_data_files,
    )

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

    assert reads(lambda: loader.load_data(rows(20), "db.t", cfg)) <= 1
    # that steady small flush ran no Spark job: one target file's rows go
    # from the driver's Arrow table straight to parquet
    sc = spark.sparkContext

    def spark_jobs(group, op) -> list:
        sc.setJobGroup(group, group)
        try:
            op()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    assert spark_jobs("small-flush", lambda: loader.load_data(rows(40), "db.t", cfg)) == []
    # a steady small loader upsert runs no Spark job either, in both
    # modes: 2 updates and 3 inserts each
    for mode, lo in (("cow", 58), ("mor", 61)):
        upsert = LoaderConfig(
            partition_by="day(ts)", join_cols=("id",), row_level_mode=mode
        )
        upsert_rows = rows(lo)[:5]
        calls.clear()
        assert spark_jobs(
            f"small-{mode}-upsert", lambda: loader.load_data(upsert_rows, "db.t", upsert)
        ) == []
        assert len(calls) <= 1
    # a replace-strategy call's first flush deletes, then appends on the
    # delete's snapshot: 20 new rows, then the same 20 replaced
    replace = LoaderConfig(partition_by="day(ts)", replace_filter="id >= 200")
    for _ in range(2):
        assert reads(lambda: loader.load_data(rows(200), "db.t", replace)) <= 1
    assert reads(lambda: t.append(new_rows)) <= 1
    assert reads(lambda: t.merge(spark, updates, ["id"])) <= 1
    # a small table compacts on the driver, its MoR key file applied
    jobs = []
    compact = lambda: jobs.extend(  # noqa: E731
        spark_jobs("small-compaction", lambda: rewrite_data_files(t, spark))
    )
    assert t.snapshot().delete_files
    assert reads(compact) <= 1
    assert jobs == []
    # past TARGET_FILE_BYTES the table writes a flush through Spark, and
    # merges a loader upsert there on the files its key range may hit
    merged_on = []
    merge_spark = Table._merge_rows_spark

    def spy(self, spark, snap, source, join_cols, candidates):
        merged_on.append((len(snap.files), candidates))
        return merge_spark(self, spark, snap, source, join_cols, candidates)

    with monkeypatch.context() as m:
        m.setattr(table_module, "TARGET_FILE_BYTES", 256)
        m.setattr(table_module, "DRIVER_MERGE_BYTES", 0)
        m.setattr(Table, "_merge_rows_spark", spy)
        calls.clear()
        assert spark_jobs("large-flush", lambda: loader.load_data(rows(300), "db.t", cfg))
        assert len(calls) <= 1
        upsert = LoaderConfig(partition_by="day(ts)", join_cols=("id",))
        assert reads(lambda: loader.load_data(rows(310), "db.t", upsert)) <= 1
    [(n_files, candidates)] = merged_on
    assert 0 < len(candidates) < n_files
    assert all(f.stats["id"][1] >= 310 for f in candidates)
    # expiry takes the head's tags from the history it resolves: the
    # tagged first load survives it
    t.set_tag("first", 2)
    expired = {}
    assert reads(lambda: expired.update(expire_snapshots(t, keep_last=2))) == 0
    assert expired["expired"] > 0 and "error" not in expired
    monkeypatch.undo()
    assert t.scan(spark, tag="first").count() == 20
    assert t.scan(spark).count() == 117


def test_scan_rejects_conflicting_snapshot_selectors(spark, tmp_path):
    """version, tag and as_of_timestamp_ms each select a snapshot; giving
    two is an error, never a silent pick of one."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,)], _schema()))
    first = t.snapshot()
    t.append(spark.createDataFrame([(2,)], _schema()))
    t.set_tag("one", first.version)
    latest_ms = t.snapshot().timestamp_ms
    for selectors in (
        {"version": first.version, "as_of_timestamp_ms": latest_ms},
        {"version": first.version, "tag": "one"},
        {"tag": "one", "as_of_timestamp_ms": latest_ms},
    ):
        with pytest.raises(ValueError, match="mutually exclusive"):
            t.scan(spark, **selectors)
    assert t.scan(spark, version=first.version).count() == 1
    assert t.scan(spark, tag="one").count() == 1
    assert t.scan(spark, as_of_timestamp_ms=latest_ms).count() == 2


def test_positional_delete_refuses_file_outside_layout(spark, tmp_path):
    """Row lineage only names files under data/<uuid>/: a positional
    delete matching rows of any other file is refused instead of
    committing an empty file_path that would hide the same positions in
    every such file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_loader_spark.tables.table import _append_build, entry_from_footer

    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", _schema())
    rel = "imported/part-0.parquet"
    os.makedirs(os.path.join(t.root, "imported"))
    pq.write_table(pa.table({"id": [1, 2, 3]}), os.path.join(t.root, rel))
    t._commit_with_retry(_append_build([entry_from_footer(os.path.join(t.root, rel), rel)]))
    head = t.snapshot().version
    with pytest.raises(ValueError, match="positional delete refused"):
        t.delete_where(spark, "id = 2", mode="mor-pos")
    assert t.snapshot().version == head
    assert sorted(r.id for r in t.scan(spark).collect()) == [1, 2, 3]


def _space_partitioned(spark, tmp_path):
    """An identity(g) table whose "a b" partition directory Spark reports
    URI-encoded (``_metadata.file_path`` holds ``a%20b``), one file per
    partition value."""
    from iceberg_loader_spark.tables.partitioning import PartitionField

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("g", T.StringType())]
    )
    t = Table.create(
        Warehouse(str(tmp_path)),
        "db.t",
        schema,
        partition_spec=[PartitionField("identity", "g")],
    )
    rows = [(1, "a b"), (2, "a b"), (3, "zz"), (4, "zz")]
    t.append(spark.createDataFrame(rows, schema))
    return t


def test_rewrite_delete_files_keeps_positions_on_encoded_paths(spark, tmp_path):
    """The merged positional deletes keep naming the "a b" file: the
    live-file semi-join compares the file_path Spark wrote, not the raw
    table path."""
    from iceberg_loader_spark.tables.maintenance import rewrite_delete_files

    t = _space_partitioned(spark, tmp_path)
    t.delete_where(spark, "id = 1 or id = 3", mode="mor-pos")
    assert sorted(r.id for r in t.scan(spark).collect()) == [2, 4]
    res = rewrite_delete_files(t, spark)
    assert res["positions_removed"] == 0
    assert sorted(r.id for r in t.scan(spark).collect()) == [2, 4]


def test_convert_equality_deletes_on_encoded_paths(spark, tmp_path):
    """Converted positions on the "a b" file still apply: each delete
    file's "paths" is narrowed by comparing lineage paths with its
    file_path footer range."""
    from iceberg_loader_spark.tables.maintenance import convert_equality_deletes

    t = _space_partitioned(spark, tmp_path)
    t.delete_by_keys(spark, spark.createDataFrame([(1,), (3,)], "id long"), ["id"])
    assert sorted(r.id for r in t.scan(spark).collect()) == [2, 4]
    res = convert_equality_deletes(t, spark)
    assert res["positions"] == 2
    assert sorted(r.id for r in t.scan(spark).collect()) == [2, 4]
    (op,) = t.snapshot().delete_files
    assert sorted(op["paths"]) == sorted(f.path for f in t.snapshot().files)


def test_commit_reads_no_manifest_without_conflict(tmp_path, monkeypatch):
    """A commit on the head it was given delta-encodes against that
    in-memory parent: no manifest is read, and the delta resolves to the
    committed file list."""
    from iceberg_loader_spark.tables.format import DataFile, LocalFSBackend

    t = Table.create(Warehouse(str(tmp_path)), "db.t", _schema())
    for i in range(5):
        head = t.snapshot()
        files = head.files + [DataFile(path=f"data/f{i}.parquet", rows=1, bytes=1)]
        t.meta.commit(
            new_snapshot(head, "append", head.schema_json, [], files, {}),
            expected_parent=head,
        )
    head = t.snapshot()
    assert head.chain_length == 4  # v2, with one file, went self-contained
    reads = []
    orig = LocalFSBackend.read_manifest

    def counting(self, version):
        reads.append(version)
        return orig(self, version)

    monkeypatch.setattr(LocalFSBackend, "read_manifest", counting)
    files = head.files[1:] + [DataFile(path="data/f5.parquet", rows=1, bytes=1)]
    snap = t.meta.commit(
        new_snapshot(head, "append", head.schema_json, [], files, {}),
        expected_parent=head,
    )
    assert reads == []
    assert snap.chain_length == 5
    monkeypatch.undo()
    raw = t.meta.backend.read_manifest(snap.version)
    assert raw["files_base"] == head.version
    assert raw["files_removed"] == ["data/f0.parquet"]
    assert [f["path"] for f in raw["files_added"]] == ["data/f5.parquet"]
    assert "files_delta_depth" not in raw and "chain_length" not in raw
    assert t.snapshot().files == files


def _changed_ids(spark, t, since):
    return sorted((r._change_type, r.id) for r in t.changes(spark, since).collect())


def test_changes_shows_rows_of_rolled_back_mor_deletes(spark, tmp_path):
    """A rollback past merge-on-read deletes drops them: the changelog
    inserts again the rows they hid, for a key delete alone and for a key
    delete with a predicate delete."""
    t = Table.create(Warehouse(str(tmp_path)), "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,), (3,)], _schema()))
    before = t.meta.current_version()
    t.delete_by_keys(spark, spark.createDataFrame([(2,)], _schema()), ["id"])
    deleted = t.meta.current_version()
    t.rollback(before)
    assert _changed_ids(spark, t, deleted) == [("insert", 2)]

    t.delete_by_keys(spark, spark.createDataFrame([(2,)], _schema()), ["id"])
    t.delete_where(spark, "id == 3", mode="mor")
    deleted = t.meta.current_version()
    assert sorted(r.id for r in t.scan(spark).collect()) == [1]
    t.rollback(before)
    assert _changed_ids(spark, t, deleted) == [("insert", 2), ("insert", 3)]


def test_changes_reports_nan_row_a_mor_delete_hides(spark, tmp_path):
    """A connector file holding x = [1.0, NaN] keeps NaN as its max, so
    the merge-on-read delete ``x > 5`` hides the NaN row; the changelog
    reports that row deleted, as the scan hides it (its footer max, 1.0,
    must not drop the row group under a pushed-down ``x > 5``)."""
    import math

    import pyarrow as pa

    from iceberg_loader_spark.sources.spark_datasource import SparkbergWriter

    wh = Warehouse(str(tmp_path))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    w = SparkbergWriter(schema, {"path": wh.table_root("db.t")}, False)
    batch = pa.RecordBatch.from_pylist(
        [{"id": 1, "x": 1.0}, {"id": 2, "x": math.nan}],
        schema=pa.schema([("id", pa.int64()), ("x", pa.float64())]),
    )
    w.commit([w.write(iter([batch]))])
    t = wh.load_table("db.t")
    before = t.meta.current_version()
    t.delete_where(spark, "x > 5", mode="mor")
    assert [r.id for r in t.scan(spark).collect()] == [1]
    assert _changed_ids(spark, t, before) == [("delete", 2)]


def test_append_tail_skips_delete_file_maintenance(spark, tmp_path):
    """Converting equality deletes and rewriting positional ones change
    no rows: the append-only tail, the incremental scan and the
    changelog pass over both."""
    from iceberg_loader_spark.tables.maintenance import (
        convert_equality_deletes,
        rewrite_delete_files,
    )

    t = Table.create(Warehouse(str(tmp_path)), "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,), (3,)], _schema()))
    t.merge(spark, spark.createDataFrame([(2,)], _schema()), ["id"], mode="mor")
    merged = t.meta.current_version()
    convert_equality_deletes(t, spark)
    rewrite_delete_files(t, spark)
    ops = [t.snapshot(v).operation for v in (merged + 1, merged + 2)]
    assert ops == ["convert-eq-deletes", "rewrite-deletes"]
    t.append(spark.createDataFrame([(4,)], _schema()))
    head = t.snapshot()
    new = [f for f in head.files if f.sequence == head.version]
    assert t.appended_files(merged, head.version) == new
    assert [r.id for r in t.scan_incremental(spark, merged).collect()] == [4]
    assert _changed_ids(spark, t, merged) == [("insert", 4)]


def test_spark_write_commits_no_empty_file(spark, tmp_path):
    """Spark's task 0 writes a file even when its partition is empty: a
    one-row DataFrame of several partitions commits one file, and the
    empty one is not left in the table's directory either."""
    t = Table.create(Warehouse(str(tmp_path)), "db.t", _schema())
    df = spark.createDataFrame([(4,)], _schema()).repartition(4)
    t.append(df)
    [f] = t.snapshot().files
    assert f.rows == 1
    written = [
        fn for _, _, fns in os.walk(os.path.join(t.root, "data")) for fn in fns
        if fn.endswith(".parquet")
    ]
    assert written == [os.path.basename(f.path)]
    assert [r.id for r in t.scan(spark).collect()] == [4]


def test_imported_file_records_nan_as_float_max(spark, tmp_path, monkeypatch):
    """pyarrow leaves NaN out of a footer's max: a file parquet-mr did not
    write has its float columns read for NaN, so ``x > 5`` keeps its NaN
    row on both scan paths. A Spark-written file's footer is trusted and
    its rows are not read."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_loader_spark.tables import table as table_module
    from iceberg_loader_spark.tables.table import _append_build, entry_from_footer

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    t = Table.create(Warehouse(str(tmp_path)), "db.t", schema)
    rel = "imported/part-0.parquet"
    os.makedirs(os.path.join(t.root, "imported"))
    pq.write_table(
        pa.table({"id": [1, 2], "x": [1.0, math.nan]}), os.path.join(t.root, rel)
    )
    entry = entry_from_footer(os.path.join(t.root, rel), rel)
    assert entry.stats["x"][0] == 1.0 and math.isnan(entry.stats["x"][1])
    t._commit_with_retry(_append_build([entry]))
    assert [r.id for r in t.scan(spark, where="x > 5").collect()] == [2]
    monkeypatch.setattr(table_module, "DRIVER_SCAN_READ_BYTES", 0)
    assert [r.id for r in t.scan(spark, where="x > 5").collect()] == [2]

    t.append(spark.createDataFrame([(3, math.nan)], schema).coalesce(1))
    f = t.snapshot().files[-1]

    def no_read(*_a, **_k):
        raise AssertionError("read the rows of a Spark-written file")

    monkeypatch.setattr(pq.ParquetFile, "read", no_read)
    footer = entry_from_footer(os.path.join(t.root, f.path), f.path)
    assert footer.stats["id"] == [3, 3] and math.isnan(footer.stats["x"][1])
