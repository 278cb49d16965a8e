"""Snapshot expiry + compaction (reference tests/test_maintenance.py)."""

import os

import pytest

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import Snapshot
from iceberg_loader_spark.tables.maintenance import (
    determine_cutoff_ms,
    expire_snapshots,
    rewrite_data_files,
)


def _snap(version, ts):
    return Snapshot(
        version=version,
        snapshot_id=f"s{version}",
        parent_version=version - 1 if version > 1 else None,
        timestamp_ms=ts,
        operation="append",
        schema_json={},
        partition_spec=[],
        files=[],
        properties={},
    )


def test_cutoff_keep_last():
    """Cutoff = ts of K-th-newest − 1ms (reference maintenance.py:56-74)."""
    snaps = [_snap(1, 1000), _snap(2, 2000), _snap(3, 3000)]
    assert determine_cutoff_ms(snaps, 1) == 2999
    assert determine_cutoff_ms(snaps, 2) == 1999
    assert determine_cutoff_ms(snaps, 3) is None  # nothing to expire
    assert determine_cutoff_ms(snaps, -1) is None  # negative → no-op
    assert determine_cutoff_ms([], 1) is None


@pytest.fixture()
def loaded(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    for i in range(3):
        loader.load_data([{"id": i, "v": f"v{i}"}], "db.t", cfg)
    return wh.load_table("db.t")


def test_expire_keep_last(spark, loaded):
    t = loaded
    assert len(t.history()) == 4  # create + 3 appends
    res = expire_snapshots(t, keep_last=1)
    assert res["expired"] == 3
    assert len(t.history()) == 1
    # current data survives in full
    assert t.scan(spark).count() == 3


def test_expire_older_than(loaded):
    t = loaded
    snaps = t.history()
    cutoff = snaps[2].timestamp_ms  # strictly-older semantics
    res = expire_snapshots(t, older_than_ms=cutoff)
    assert res["expired"] == len([s for s in snaps if s.timestamp_ms < cutoff])


def test_expire_noop_cases(loaded):
    t = loaded
    assert expire_snapshots(t, keep_last=-1)["expired"] == 0
    assert expire_snapshots(t, keep_last=100)["expired"] == 0


def test_expire_deletes_unreferenced_files(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False, write_mode="overwrite")
    loader.load_data([{"id": 1}], "db.t", cfg)
    old_files = [
        os.path.join(wh.load_table("db.t").root, f.path)
        for f in wh.load_table("db.t").snapshot().files
    ]
    loader.load_data([{"id": 2}], "db.t", cfg)  # overwrite orphans old files
    t = wh.load_table("db.t")
    res = expire_snapshots(t, keep_last=1)
    assert res["deleted_files"] >= 1
    assert all(not os.path.exists(p) for p in old_files)
    assert t.scan(spark).count() == 1


def test_compaction_preserves_rows(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    for i in range(5):
        loader.load_data([{"id": i, "v": f"v{i}"}], "db.t", cfg)
    t = wh.load_table("db.t")
    n_files_before = len(t.snapshot().files)
    assert n_files_before >= 5
    res = rewrite_data_files(t, spark, target_file_mb=512)
    assert res["rewritten"] == n_files_before
    t2 = wh.load_table("db.t")
    assert t2.snapshot().operation == "replace"
    assert len(t2.snapshot().files) < n_files_before
    assert sorted(r.id for r in t2.scan(spark).collect()) == [0, 1, 2, 3, 4]


def test_remove_orphan_files_deletes_uncommitted_debris(spark, tmp_path):
    """Files written by a crashed writer (present under data/, referenced
    by no manifest) are removed; live and recent files survive."""
    import os
    import time

    from pyspark.sql import types as T

    from iceberg_loader_spark.tables import Warehouse
    from iceberg_loader_spark.tables.maintenance import remove_orphan_files
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", schema)
    t.append(spark.createDataFrame([(1,)], schema))
    t = wh.load_table("db.t")
    # simulate a crashed writer: parquet in a staging dir, never committed
    orphan_dir = os.path.join(t.root, "data", "deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    spark.createDataFrame([(99,)], schema).toPandas().to_parquet(orphan)
    old = time.time() - 4 * 3600
    os.utime(orphan, (old, old))
    # a RECENT unreferenced file stays (may be in-flight)
    recent_dir = os.path.join(t.root, "data", "cafe0000")
    os.makedirs(recent_dir)
    recent = os.path.join(recent_dir, "part-0.parquet")
    spark.createDataFrame([(98,)], schema).toPandas().to_parquet(recent)

    res = remove_orphan_files(t)
    assert res == {"removed": 1, "kept_recent": 1}
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_dir)  # empty staging dir pruned
    assert os.path.exists(recent)
    # committed data untouched
    assert [r.id for r in wh.load_table("db.t").scan(spark).collect()] == [1]


def test_sorted_compaction_tightens_file_ranges(spark, tmp_path):
    """rewrite_data_files(sort_by=...) clusters rows so output files get
    near-disjoint min/max ranges -> point predicates prune to ~1 file."""
    from pyspark.sql import types as T

    from iceberg_loader_spark.tables import Warehouse
    from iceberg_loader_spark.tables.filters import prune_files
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", schema)
    # interleaved appends -> every file spans nearly the full id range
    for i in range(4):
        t.append(
            spark.createDataFrame([(j,) for j in range(i, 400, 4)], schema)
        )
    t = wh.load_table("db.t")
    may_before, _ = prune_files("id == 7", t.snapshot().files, [])
    assert len(may_before) == 4  # no pruning possible

    rewrite_data_files(t, spark, sort_by=["id"], target_files=4)
    t = wh.load_table("db.t")
    files = t.snapshot().files
    may_after, clean = prune_files("id == 7", files, [])
    assert len(files) > 1
    assert len(may_after) < len(files), "sorted rewrite must enable pruning"
    # rows intact
    assert t.scan(spark).count() == 400
    assert [r.id for r in t.scan(spark, where="id == 7").collect()] == [7]


def test_zorder_compaction_prunes_on_both_columns(spark, tmp_path):
    """Z-order rewrite gives BOTH listed columns per-file min/max
    locality: point predicates on x AND on y each prune to a strict
    subset of files (a linear sort_by=[x, y] only prunes on x)."""
    from pyspark.sql import types as T

    from iceberg_loader_spark.tables import Warehouse
    from iceberg_loader_spark.tables.filters import prune_files
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.LongType())]
    )
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.z", schema)
    # full 64x64 grid in row-shuffled order: every pre-rewrite file spans
    # nearly the whole range on both axes
    import random

    rng = random.Random(3)
    grid = [(x, y) for x in range(64) for y in range(64)]
    rng.shuffle(grid)
    t.append(spark.createDataFrame(grid, schema).repartition(4))
    t = wh.load_table("db.z")

    rewrite_data_files(t, spark, zorder_by=["x", "y"], target_files=16)
    t = wh.load_table("db.z")
    files = t.snapshot().files
    assert len(files) > 4
    for col in ("x", "y"):
        may, _ = prune_files(f"{col} == 5", files, [])
        assert len(may) < len(files), f"no pruning on {col} after z-order"
    # content intact
    assert t.scan(spark).count() == 64 * 64
    assert t.scan(spark, where="x == 5").count() == 64

    # guard rails
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        rewrite_data_files(t, spark, sort_by=["x"], zorder_by=["y"])


def test_zorder_rejects_non_numeric_and_partitioned(spark, tmp_path):
    from pyspark.sql import types as T

    from iceberg_loader_spark.tables import Warehouse
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files
    from iceberg_loader_spark.tables.partitioning import PartitionField
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType(
        [T.StructField("s", T.StringType()), T.StructField("x", T.LongType())]
    )
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.zs", schema)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], schema))
    t = wh.load_table("db.zs")
    with pytest.raises(ValueError, match="numeric columns only"):
        rewrite_data_files(t, spark, zorder_by=["s"])

    tp = Table.create(
        wh,
        "db.zp",
        schema,
        partition_spec=[PartitionField(transform="identity", source="s")],
    )
    tp.append(spark.createDataFrame([("a", 1)], schema))
    tp = wh.load_table("db.zp")
    with pytest.raises(ValueError, match="unpartitioned"):
        rewrite_data_files(tp, spark, zorder_by=["x"])


def test_sorted_compaction_on_partitioned_table(spark, tmp_path):
    """sort_by must survive the partition-column repartition inside
    _write_data_files: within each partition the rewritten file(s) carry
    the full sorted clustering, i.e. per-file min/max stats on the sort
    column are recorded and rows are stored in sorted order."""
    from pyspark.sql import types as T

    from iceberg_loader_spark.tables import Warehouse
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files
    from iceberg_loader_spark.tables.partitioning import PartitionField
    from iceberg_loader_spark.tables.table import Table

    schema = T.StructType(
        [
            T.StructField("bucket", T.StringType()),
            T.StructField("id", T.LongType()),
        ]
    )
    wh = Warehouse(str(tmp_path))
    t = Table.create(
        wh,
        "db.p",
        schema,
        partition_spec=[PartitionField(transform="identity", source="bucket")],
    )
    import random

    rng = random.Random(7)
    rows = [(b, i) for b in ("a", "b") for i in rng.sample(range(1000), 400)]
    t.append(spark.createDataFrame(rows, schema))
    t = wh.load_table("db.p")

    rewrite_data_files(t, spark, sort_by=["id"])
    t = wh.load_table("db.p")
    files = t.snapshot().files
    assert len(files) >= 2  # one+ per partition value
    for f in files:
        assert f.partition, "rewrite must keep the partition layout"
        assert "id" in f.stats, "sort column stats must be recorded"
    # rows actually stored in sorted order inside each file
    import pyarrow.parquet as pq

    for f in files:
        ids = pq.read_table(
            os.path.join(t.root, f.path), columns=["id"]
        ).column("id").to_pylist()
        assert ids == sorted(ids), f"{f.path} not sort-clustered"
    # content intact
    assert t.scan(spark).count() == 800


# ---- rewrite_manifests (manifest-chain compaction, round 8) --------------


def test_rewrite_manifests_squashes_chain_and_preserves_content(
    spark, tmp_path
):
    from iceberg_loader_spark.tables.maintenance import (
        manifest_chain_length,
        rewrite_manifests,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    for i in range(5):
        loader.load_data([{"id": i, "v": f"v{i}"}], "db.t", cfg)
    t = wh.load_table("db.t")
    head = t.meta.current_version()
    before = manifest_chain_length(t)
    assert before >= 2  # appends delta-encode against the parent
    rows_before = sorted(r.id for r in t.scan(spark).collect())

    res = rewrite_manifests(t)
    assert res["rewritten"] == 1
    assert res["chains"]["main"] == {"before": before, "after": 0}
    assert manifest_chain_length(t) == 0
    # metadata-only: same head version, identical content, history intact
    assert t.meta.current_version() == head
    assert sorted(r.id for r in t.scan(spark).collect()) == rows_before
    assert len(t.history()) == 6  # create + 5 appends
    # idempotent: second call finds nothing to do
    assert rewrite_manifests(t)["rewritten"] == 0
    # the NEXT commit deltas against the squashed base at depth 1
    loader.load_data([{"id": 99, "v": "x"}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert manifest_chain_length(t) == 1


def test_rewrite_manifests_covers_branch_heads(spark, tmp_path):
    from iceberg_loader_spark.tables.maintenance import (
        manifest_chain_length,
        rewrite_manifests,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    for i in range(3):
        loader.load_data([{"id": i}], "db.t", cfg)
    t = wh.load_table("db.t")
    t.create_branch("exp")
    for i in range(3, 6):
        df = spark.createDataFrame([(i,)], "id long")
        t.branch("exp").append(df)
    br_before = manifest_chain_length(t.branch("exp"))
    assert br_before >= 2
    res = rewrite_manifests(t)
    assert res["refs"] == 2
    assert res["chains"]["branch/exp"]["after"] == 0
    assert manifest_chain_length(t.branch("exp")) == 0
    # branch content preserved through the squash
    assert sorted(
        r.id for r in t.branch("exp").scan(spark).collect()
    ) == [0, 1, 2, 3, 4, 5]
    # a branch-only handle squashes just its own chain
    assert rewrite_manifests(t.branch("exp"), include_branches=False)[
        "rewritten"
    ] == 0


# ---- rewrite_delete_files (position-delete compaction, round 8) ----------


def test_rewrite_delete_files_merges_dedups_and_drops_dangling(
    spark, tmp_path
):
    from iceberg_loader_spark.tables.maintenance import rewrite_delete_files

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    # file A: ids 0-4 tag x; file B: ids 5-9 tag y (separate commits →
    # separate files with disjoint metadata ranges)
    loader.load_data([{"id": i, "tag": "x"} for i in range(5)], "db.t", cfg)
    loader.load_data(
        [{"id": i, "tag": "y"} for i in range(5, 10)], "db.t", cfg
    )
    t = wh.load_table("db.t")
    # partial-match predicates ONLY (a full metadata match would drop the
    # file outright instead of writing positions)
    t.delete_where(spark, "id <= 1", mode="mor-pos")  # A positions {0,1}
    t = wh.load_table("db.t")
    t.delete_where(spark, "id <= 2", mode="mor-pos")  # A {0,1,2} — 2 dups
    t = wh.load_table("db.t")
    t.delete_where(spark, "id >= 6", mode="mor-pos")  # B {6,7,8,9}
    t = wh.load_table("db.t")
    # drop file B outright: its positions in the third delete dangle
    t.delete_where(spark, "tag == 'y'", mode="cow")
    t = wh.load_table("db.t")
    pos = [d for d in t.snapshot().delete_files if d.get("kind") == "pos"]
    assert len(pos) == 3
    assert sum(d["rows"] for d in pos) == 9  # 2 + 3 + 4

    res = rewrite_delete_files(t, spark)
    assert res["merged"] == 3 and res["files_after"] == 1
    t = wh.load_table("db.t")
    pos = [d for d in t.snapshot().delete_files if d.get("kind") == "pos"]
    assert len(pos) == 1
    # live distinct positions {0,1,2}: 2 duplicates + 4 dangling removed
    assert pos[0]["rows"] == 3
    assert res["positions_removed"] == 6
    # content unchanged: ids 3-4 visible (0-2 pos-deleted, 5-9 dropped)
    assert sorted(r.id for r in t.scan(spark).collect()) == [3, 4]
    # rows appended AFTER the rewrite are untouched by the merged delete
    loader.load_data([{"id": 0, "tag": "z"}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert sorted(r.id for r in t.scan(spark).collect()) == [0, 3, 4]
    # idempotent-ish: rerunning merges the single file to itself
    res2 = rewrite_delete_files(t, spark)
    assert res2["merged"] == 1 and res2["positions_removed"] == 0


def test_rewrite_delete_files_shards_output(spark, tmp_path):
    """shards=N range-partitions the merged positions into N delete
    files with tight, scan-prunable file_path ranges and exact
    per-shard ``paths`` subsets — content identical to the 1-file
    merge."""
    from iceberg_loader_spark.tables.maintenance import rewrite_delete_files

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    for lo in range(0, 40, 10):  # 4 data files, ids lo..lo+9
        loader.load_data(
            [{"id": i, "tag": "x"} for i in range(lo, lo + 10)], "db.t", cfg
        )
    t = wh.load_table("db.t")
    t.delete_where(spark, "id % 10 <= 3", mode="mor-pos")  # 4 per file
    t = wh.load_table("db.t")
    t.delete_where(spark, "id % 10 <= 5", mode="mor-pos")  # dups + 2 new
    t = wh.load_table("db.t")

    res = rewrite_delete_files(t, spark, shards=3)
    assert res["merged"] == 2 and res["files_after"] == 3
    t = wh.load_table("db.t")
    pos = [d for d in t.snapshot().delete_files if d.get("kind") == "pos"]
    assert len(pos) == 3
    assert sum(d["rows"] for d in pos) == 24  # 6 per data file, deduped
    # every shard carries an exact paths subset inside its own footer
    # range, and the union covers all four referenced data files
    all_paths = set()
    for d in pos:
        assert d.get("paths"), d
        lo_s, hi_s = d["stats"]["file_path"]
        assert all(lo_s <= p <= hi_s for p in d["paths"])
        all_paths.update(d["paths"])
    assert len(all_paths) == 4
    # content identical to the unsharded merge: ids with id%10 in 6..9
    assert sorted(r.id for r in t.scan(spark).collect()) == sorted(
        i for i in range(40) if i % 10 > 5
    )
    # rows appended after the rewrite stay untouched (max-seq safety)
    loader.load_data([{"id": 0, "tag": "z"}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert sorted(r.id for r in t.scan(spark).collect()) == sorted(
        [0] + [i for i in range(40) if i % 10 > 5]
    )


def test_convert_equality_deletes_materializes_positions(spark, tmp_path):
    """Equality deletes become position deletes naming exactly the rows
    they hid; later-sequence rows with matching keys stay visible; the
    pos-merge then applies (full convergence path)."""
    from iceberg_loader_spark.tables.maintenance import (
        convert_equality_deletes,
        rewrite_delete_files,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": i, "tag": "a"} for i in range(10)], "db.t", cfg)
    loader.load_data(
        [{"id": i, "tag": "b"} for i in range(10, 20)], "db.t", cfg
    )
    t = wh.load_table("db.t")
    # eq delete 1: ids {1,2,11} across both files
    t.delete_by_keys(
        spark, spark.createDataFrame([(1,), (2,), (11,)], "id long"), ["id"]
    )
    t = wh.load_table("db.t")
    # a mor-pos delete that must survive the conversion untouched
    t.delete_where(spark, "id == 15", mode="mor-pos")
    t = wh.load_table("db.t")
    # eq delete 2: ids {3, 12, 999} (999 matches nothing)
    t.delete_by_keys(
        spark,
        spark.createDataFrame([(3,), (12,), (999,)], "id long"),
        ["id"],
    )
    t = wh.load_table("db.t")
    # row appended AFTER the eq deletes: id 1 again — must stay visible
    # through conversion (its file's sequence is above both eq ops)
    loader.load_data([{"id": 1, "tag": "late"}], "db.t", cfg)
    t = wh.load_table("db.t")
    visible_before = sorted(
        (r.id, r.tag) for r in t.scan(spark).collect()
    )
    assert (1, "late") in visible_before
    assert not any(i in (1, 2, 3, 11, 12, 15) for i, tag in visible_before
                   if tag != "late")

    res = convert_equality_deletes(t, spark)
    assert res["converted"] == 2
    assert res["position_files"] == 1
    assert res["positions"] == 5  # ids 1,2,3,11,12 in the first two files
    t = wh.load_table("db.t")
    dels = t.snapshot().delete_files
    assert all(d.get("kind") == "pos" for d in dels)
    assert len(dels) == 2  # converted file + the original id==15 pos file
    # scan results identical to pre-conversion
    assert (
        sorted((r.id, r.tag) for r in t.scan(spark).collect())
        == visible_before
    )
    # keys matching rows appended after conversion still never re-hide
    loader.load_data([{"id": 2, "tag": "later"}], "db.t", cfg)
    t = wh.load_table("db.t")
    assert (2, "later") in {(r.id, r.tag) for r in t.scan(spark).collect()}
    # convergence: pos-merge now compacts everything to one delete file
    rewrite_delete_files(t, spark)
    t = wh.load_table("db.t")
    pos = [d for d in t.snapshot().delete_files if d.get("kind") == "pos"]
    assert len(pos) == 1 and pos[0]["rows"] == 6
    assert (
        sorted((r.id, r.tag) for r in t.scan(spark).collect())
        == sorted(visible_before + [(2, "later")])
    )
    # idempotent: nothing left to convert
    assert convert_equality_deletes(t, spark)["converted"] == 0


def test_convert_equality_deletes_drops_dead_ops_without_positions(
    spark, tmp_path
):
    """An eq op whose applicable files were all compacted away converts
    to zero positions but is still dropped (dead-op cleanup)."""
    from iceberg_loader_spark.tables.maintenance import (
        convert_equality_deletes,
        rewrite_data_files,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": i} for i in range(10)], "db.t", cfg)
    t = wh.load_table("db.t")
    t.delete_by_keys(
        spark, spark.createDataFrame([(4,)], "id long"), ["id"]
    )
    t = wh.load_table("db.t")
    # compaction materializes the delete, but leave the op in place by
    # deleting against the POST-compaction file instead: rewrite clears
    # delete_files, so re-add an op that now applies to nothing
    rewrite_data_files(t, spark)
    t = wh.load_table("db.t")
    assert t.snapshot().delete_files == []
    t.delete_by_keys(
        spark, spark.createDataFrame([(999,)], "id long"), ["id"]
    )
    t = wh.load_table("db.t")
    res = convert_equality_deletes(t, spark)
    assert res["converted"] == 1 and res["positions"] == 0
    t = wh.load_table("db.t")
    assert t.snapshot().delete_files == []
    assert sorted(r.id for r in t.scan(spark).collect()) == [
        i for i in range(10) if i != 4
    ]


def test_rewrite_delete_files_noop_without_pos_deletes(spark, tmp_path):
    from iceberg_loader_spark.tables.maintenance import rewrite_delete_files

    wh = Warehouse(str(tmp_path / "wh"))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(load_timestamp=False)
    loader.load_data([{"id": 1}], "db.t", cfg)
    t = wh.load_table("db.t")
    t.delete_where(spark, "id == 999", mode="mor")  # predicate delete only
    t = wh.load_table("db.t")
    v = t.meta.current_version()
    assert rewrite_delete_files(t, spark)["merged"] == 0
    assert wh.load_table("db.t").meta.current_version() == v  # no commit
