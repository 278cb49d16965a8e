"""The driver's Arrow merge against the Spark merge.

``Table.merge`` of an Arrow table runs a small copy-on-write upsert on
the driver whenever that is eligible. The same upsert run both ways, as
``merge(pa.Table)`` and as ``merge(DataFrame)`` on twin tables, must give
the same files (per-file rows as multisets, partition values, stats and
blooms), the same snapshot summary and the same scan; inputs that are
not eligible must take the Spark path and give its result.
"""

import contextlib
import datetime as dt
import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from iceberg_loader_spark.tables import ConcurrentModification, Warehouse
from iceberg_loader_spark.tables import table as table_module
from iceberg_loader_spark.tables.partitioning import parse_partition_transform
from iceberg_loader_spark.tables.table import Table

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("v", T.LongType()),
        T.StructField("x", T.DoubleType()),
    ]
)
LATE = T.StructField("late", T.StringType())
FULL = T.StructType(SCHEMA.fields + [LATE])
ARROW = pa.schema(
    [
        ("k", pa.int64()),
        ("s", pa.string()),
        ("ts", pa.timestamp("us")),
        ("v", pa.int64()),
        ("x", pa.float64()),
    ]
)
ARROW_FULL = ARROW.append(pa.field("late", pa.string()))
DAY0 = dt.datetime(2024, 5, 1)


def _key(v):
    """Totally ordered form of a cell; -0.0 and 0.0 are one key."""
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (2, 0) if math.isnan(v) else (1, v + 0.0)
    return (1, v)


def _row_key(r) -> tuple:
    return tuple(_key(r.get(c)) for c in FULL.names)


def _files(t: Table) -> dict:
    """partition JSON -> sorted (rows, stats, bloom, row multiset) per file."""
    out: dict[str, list] = {}
    for f in t.snapshot().files:
        rows = pq.read_table(os.path.join(t.root, f.path)).to_pylist()
        out.setdefault(json.dumps(f.partition, sort_keys=True), []).append(
            (
                f.rows,
                json.dumps(f.stats, sort_keys=True),
                json.dumps(f.bloom, sort_keys=True),
                sorted(_row_key(r) for r in rows),
            )
        )
    return {p: sorted(fs) for p, fs in out.items()}


def _scan(spark, t: Table) -> list:
    return sorted(_row_key(r.asDict()) for r in t.scan(spark).collect())


@contextlib.contextmanager
def _spark_merges():
    """Record every run of the Spark merge's data path."""
    calls = []
    orig = Table._merge_rows_spark

    def spy(self, *a, **k):
        calls.append(a)
        return orig(self, *a, **k)

    Table._merge_rows_spark = spy
    try:
        yield calls
    finally:
        Table._merge_rows_spark = orig


def _twins(wh, name, spec, props, batches, late_after):
    """Two tables given the same appends; ``late`` is added after the
    first ``late_after`` batches, so older files lack it."""
    spec = [parse_partition_transform(p) for p in spec]
    tables = [
        Table.create(wh, f"db.{side}_{name}", SCHEMA, spec, properties=props)
        for side in ("a", "s")
    ]
    for i, batch in enumerate(batches):
        if i == late_after:
            for t in tables:
                t.add_columns([LATE])
        schema = ARROW_FULL if i >= late_after else ARROW
        for t in tables:
            t.append(pa.Table.from_pylist(batch, schema))
    if late_after >= len(batches):
        for t in tables:
            t.add_columns([LATE])
    return tables


def _merge_both(spark, arrow_t, spark_t, source, keys, mode="cow"):
    rows = pa.Table.from_pylist(source, ARROW_FULL)
    with _spark_merges() as calls:
        a = arrow_t.merge(spark, rows, keys, mode=mode)
    s = spark_t.merge(
        spark, spark.createDataFrame(rows, schema=FULL).coalesce(1), keys, mode=mode
    )
    return a, s, bool(calls)


def _assert_same(spark, arrow_t, spark_t, a, s):
    keys = ("updated-records", "inserted-records", "rewritten-files", "total-records")
    assert {k: a.summary[k] for k in keys} == {k: s.summary[k] for k in keys}
    assert _files(arrow_t) == _files(spark_t)
    assert _scan(spark, arrow_t) == _scan(spark, spark_t)


def _row(k, day, v, s="a", x=1.5, late=None):
    return {
        "k": k,
        "s": s,
        "ts": DAY0 + dt.timedelta(days=day, hours=(v or 0) % 24),
        "v": v,
        "x": x,
        "late": late,
    }


_cell = {
    "k": st.none() | st.integers(0, 12),
    "s": st.none() | st.sampled_from(["", "a", "b", "é"]),
    "day": st.integers(0, 3),
    "v": st.none() | st.integers(-5, 5),
    "x": st.none() | st.sampled_from([0.0, -0.0, 1.5, -2.25, math.inf]),
    "late": st.none() | st.sampled_from(["p", "q"]),
}


def _draw_row(draw):
    c = {k: draw(s) for k, s in _cell.items()}
    return _row(c["k"], c["day"], c["v"], c["s"], c["x"], c["late"])


@st.composite
def _upserts(draw):
    batches = [
        [_draw_row(draw) for _ in range(draw(st.integers(1, 8)))]
        for _ in range(draw(st.integers(0, 3)))
    ]
    late_after = draw(st.integers(0, len(batches)))
    for batch in batches[:late_after]:
        for r in batch:
            del r["late"]
    keys = draw(st.sampled_from([["k"], ["k", "s"]]))
    source, seen = [], set()
    for _ in range(draw(st.integers(1, 10))):
        r = _draw_row(draw)
        if batches and draw(st.booleans()):  # an update of a target row
            old = draw(st.sampled_from([r for b in batches for r in b]))
            r.update({c: old[c] for c in keys})
        key = tuple(r[c] for c in keys)
        if key not in seen:
            seen.add(key)
            source.append(r)
    spec = draw(st.sampled_from([["day(ts)"], ["s"], ["day(ts)", "s"], ["void(x)"]]))
    props = {}
    if draw(st.booleans()):
        # a sort column must exist from the first write on
        orders = ["v", "s,k"] + (["late"] if late_after == 0 else [])
        props["write.sort-order"] = draw(st.sampled_from(orders))
    if keys == ["k"] and draw(st.booleans()):
        props["write.bloom.keys"] = "k"
    return batches, late_after, keys, source, spec, props


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
@given(case=_upserts())
def test_arrow_merge_matches_spark_merge(spark, tmp_path, case):
    batches, late_after, keys, source, spec, props = case
    wh = Warehouse(str(tmp_path / os.urandom(4).hex()))
    arrow_t, spark_t = _twins(wh, "t", spec, props, batches, late_after)
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, keys)
    # the one input here the Arrow writer cannot reproduce: a void field
    # under a sort order (Spark's write loses the sort)
    assert used_spark == ("void(x)" in spec and "write.sort-order" in props)
    _assert_same(spark, arrow_t, spark_t, a, s)


def test_listed_inputs_match_spark_merge(spark, tmp_path):
    """Duplicate target keys, null keys on both sides, files from before
    ``late`` was added, an update moving a row to another day, a key no
    file holds and a file the key range keeps but no key hits."""
    wh = Warehouse(str(tmp_path))
    batches = [
        [_row(1, 0, 1), _row(1, 0, 2), _row(None, 0, 3), _row(2, 1, 4)],
        [_row(3, 1, 5, late="p"), _row(None, 2, 6, late="q")],
        [_row(9, 3, 7, late="p"), _row(7, 3, 8, late="p")],
    ]
    for r in batches[0]:
        del r["late"]
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], {}, batches, 1)
    source = [
        _row(1, 3, 10, late="moved"),  # two target rows, moved to day 3
        _row(None, 0, 11),  # a null key never matches: an insert
        _row(3, 1, 5, late="p"),  # unchanged: matched, not updated
        _row(4, 2, 12),  # in day 1's key range, held by no file
        _row(20, 0, 13),  # a new key
    ]
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    assert (a.summary["updated-records"], a.summary["inserted-records"]) == (2, 3)
    # the key range [1, 20] keeps every file; of those, only day 0's file
    # and day 1's second file hold a source key
    assert a.summary["rewritten-files"] == 2
    _assert_same(spark, arrow_t, spark_t, a, s)


def test_empty_and_unpartitioned_tables_match_spark_merge(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    source = [_row(1, 0, 1), _row(None, 0, 2)]
    arrow_t, spark_t = _twins(wh, "empty", ["day(ts)"], {}, [], 0)
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    _assert_same(spark, arrow_t, spark_t, a, s)
    # unpartitioned: the Spark path may split its output over several
    # files, so compare the summary and the scan
    batches = [[_row(k, 0, k) for k in range(6)]]
    arrow_t, spark_t = _twins(wh, "flat", [], {}, batches, 1)
    source = [_row(2, 1, 20), _row(7, 1, 21)]
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    keys = ("updated-records", "inserted-records", "rewritten-files", "total-records")
    assert {k: a.summary[k] for k in keys} == {k: s.summary[k] for k in keys}
    assert _scan(spark, arrow_t) == _scan(spark, spark_t)


@pytest.mark.parametrize(
    "props, source_keys",
    [({}, [30, 31]), ({"write.bloom.keys": "k"}, [4, 6])],
    ids=["key-range", "bloom"],
)
def test_candidates_pruned_from_metadata(spark, tmp_path, monkeypatch, props, source_keys):
    """Only files whose key stats, or key bloom, may hold a source key are
    read, once for their key columns and once for their rows: even keys
    in one file, odd keys in another, keys 30-39 in a third."""
    wh = Warehouse(str(tmp_path))
    batches = [
        [_row(k, 0, k) for k in range(0, 20, 2)],
        [_row(k, 0, k) for k in range(1, 20, 2)],
        [_row(k, 0, k) for k in range(30, 40)],
    ]
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], props, batches, 3)
    read = []
    orig = table_module._read_arrow_file
    monkeypatch.setattr(
        table_module,
        "_read_arrow_file",
        lambda root, f, schema: read.append(f.rows) or orig(root, f, schema),
    )
    source = [_row(k, 0, 100 + k) for k in source_keys]
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    assert read == [10, 10]
    _assert_same(spark, arrow_t, spark_t, a, s)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_duplicate_source_keys_rejected(spark, tmp_path, mode):
    """Both sources, both modes; two null keys are a duplicate too."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", FULL)
    t.append(pa.Table.from_pylist([_row(1, 0, 1)], ARROW_FULL))
    version = t.snapshot().version
    for keys in ([1, 1], [None, None]):
        rows = pa.Table.from_pylist([_row(k, 0, 2) for k in keys], ARROW_FULL)
        for source in (rows, spark.createDataFrame(rows, schema=FULL)):
            with pytest.raises(ValueError, match="duplicate join keys"):
                t.merge(spark, source, ["k"], mode=mode)
    assert t.snapshot().version == version


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_unknown_join_column_rejected(spark, tmp_path, mode):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", FULL)
    rows = pa.Table.from_pylist([_row(1, 0, 1)], ARROW_FULL)
    for source in (rows, spark.createDataFrame(rows, schema=FULL)):
        with pytest.raises(ValueError, match=r"join columns not in schema: \['nope'\]"):
            t.merge(spark, source, ["k", "nope"], mode=mode)


@pytest.mark.parametrize("budget", ["below-disk", "below-decoded"])
def test_driver_merge_bytes_bound(spark, tmp_path, monkeypatch, budget):
    """Candidates plus source past ``DRIVER_MERGE_BYTES`` decoded take the
    Spark path: turned away from their size on disk before any read, or
    while reading once their decoded rows pass the budget."""
    wh = Warehouse(str(tmp_path))
    batches = [[_row(k, 0, k, s=f"s{k:06d}") for k in range(0, 4000, 2)]]
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], {}, batches, 1)
    files = arrow_t.snapshot().files
    disk = sum(f.bytes for f in files)
    schema = pa.schema(ARROW_FULL)
    decoded = sum(
        table_module._read_arrow_file(arrow_t.root, f, schema).nbytes for f in files
    )
    assert disk < decoded
    source = [_row(2, 0, 30), _row(5, 0, 31)]
    src_bytes = pa.Table.from_pylist(source, ARROW_FULL).nbytes
    limit = disk // 2 if budget == "below-disk" else (disk + decoded) // 2
    monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", src_bytes + limit)
    read = []
    orig = table_module._read_arrow_file
    monkeypatch.setattr(
        table_module,
        "_read_arrow_file",
        lambda root, f, schema: read.append(f.rows) or orig(root, f, schema),
    )
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert used_spark
    # below the decoded size: the key pass reads the file, the row read
    # passes the budget
    assert read == ([] if budget == "below-disk" else [2000, 2000])
    _assert_same(spark, arrow_t, spark_t, a, s)


@pytest.mark.parametrize("kind", ["pred", "eq", "pos"])
def test_pending_delete_merges_on_driver(spark, tmp_path, kind):
    """A merge-on-read delete pending on the candidates, of each kind:
    the merge reads them through ``_read_arrow`` on the driver and gives
    the Spark path's result. Key 2's row is deleted, so its source row
    is an insert, yet its file is rewritten, as Spark's key semi-join on
    the raw rows finds it."""
    wh = Warehouse(str(tmp_path))
    batches = [[_row(k, k % 2, k) for k in range(8)]]
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], {}, batches, 1)
    for t in (arrow_t, spark_t):
        if kind == "pred":
            t.delete_where(spark, "v == 2", mode="mor")
        elif kind == "pos":
            t.delete_where(spark, "v == 2", mode="mor-pos")
        else:
            t.delete_by_keys(spark, spark.createDataFrame([(2,)], "k bigint"), ["k"])
    source = [_row(2, 0, 30), _row(4, 0, 31), _row(50, 1, 32)]
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    assert a.summary["rewritten-files"] == 1
    _assert_same(spark, arrow_t, spark_t, a, s)


def test_concurrent_append_aborts_arrow_merge(spark, tmp_path, monkeypatch):
    """An append committed between the Arrow path's planning and its
    commit fails validation: ConcurrentModification, and the table holds
    exactly the concurrent append."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", FULL, [parse_partition_transform("day(ts)")])
    t.append(pa.Table.from_pylist([_row(k, 0, k) for k in range(4)], ARROW_FULL))
    orig = Table._merge_rows_arrow

    def racing(self, *a, **k):
        out = orig(self, *a, **k)
        Table(wh, "db.t").append(
            pa.Table.from_pylist([_row(1, 1, 99)], ARROW_FULL)
        )
        return out

    monkeypatch.setattr(Table, "_merge_rows_arrow", racing)
    with pytest.raises(ConcurrentModification):
        t.merge(spark, pa.Table.from_pylist([_row(1, 0, 50)], ARROW_FULL), ["k"])
    monkeypatch.undo()
    assert t.snapshot().operation == "append"
    got = sorted((r.k, r.v) for r in t.scan(spark).collect())
    assert got == [(0, 0), (1, 1), (1, 99), (2, 2), (3, 3)]


def test_mor_merge_of_arrow_source_matches_spark(spark, tmp_path):
    """A MoR upsert of an Arrow table writes its rows and an unpartitioned
    key file, sorted by the sort-order columns it carries, with no
    Spark write; the result is the DataFrame upsert's."""
    wh = Warehouse(str(tmp_path))
    props = {"write.sort-order": "v,k"}
    batches = [[_row(k, k % 3, k) for k in range(9)]]
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], props, batches, 1)
    source = [_row(5, 0, 40), _row(None, 1, 41), _row(3, 2, 42), _row(30, 2, 43)]
    writes = []
    orig = Table._write_data_files
    rows = pa.Table.from_pylist(source, ARROW_FULL)
    try:
        Table._write_data_files = lambda self, *a, **k: writes.append(a) or orig(
            self, *a, **k
        )
        a = arrow_t.merge(spark, rows, ["k"], mode="mor")
    finally:
        Table._write_data_files = orig
    assert writes == []
    s = spark_t.merge(
        spark, spark.createDataFrame(rows, schema=FULL).coalesce(1), ["k"], mode="mor"
    )
    keys = ("merge-mode", "source-records", "added-files", "equality-delete-files")
    assert {k: a.summary[k] for k in keys} == {k: s.summary[k] for k in keys}
    (a_del,), (s_del,) = a.delete_files, s.delete_files
    for t, d in ((arrow_t, a_del), (spark_t, s_del)):
        assert pq.read_schema(os.path.join(t.root, d["path"])).names == ["k"]
    assert (a_del["rows"], a_del["stats"], a_del.get("probe")) == (
        s_del["rows"],
        s_del["stats"],
        s_del.get("probe"),
    )
    assert pq.read_table(os.path.join(arrow_t.root, a_del["path"]))[
        "k"
    ].to_pylist() == [None, 3, 5, 30]
    assert _scan(spark, arrow_t) == _scan(spark, spark_t)



@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize(
    "key_type, keys",
    [
        (T.BooleanType(), [True, False]),
        (
            T.TimestampNTZType(),
            [DAY0 + dt.timedelta(seconds=0.5), DAY0 + dt.timedelta(seconds=1.25)],
        ),
    ],
    ids=["boolean", "timestamp-ntz"],
)
def test_bloom_on_key_without_string_twin(spark, tmp_path, mode, key_type, keys):
    """``write.bloom.keys`` on a key whose Python ``str`` differs from
    Spark's CAST(x AS STRING): the keys are not probed against the file
    blooms, so the file holding the updated key is still rewritten (CoW)
    or still filtered by the key file (MoR)."""
    wh = Warehouse(str(tmp_path))
    schema = T.StructType(
        [T.StructField("b", key_type), T.StructField("v", T.LongType())]
    )
    rows = to_arrow_schema(schema)
    tables = [
        Table.create(wh, f"db.{side}", schema, properties={"write.bloom.keys": "b"})
        for side in ("a", "s")
    ]
    for t in tables:
        for k in keys:
            t.append(pa.Table.from_pylist([{"b": k, "v": 1}], rows))
    source = pa.Table.from_pylist([{"b": keys[0], "v": 2}], rows)
    with _spark_merges() as calls:
        a = tables[0].merge(spark, source, ["b"], mode=mode)
    s = tables[1].merge(
        spark, spark.createDataFrame(source, schema=schema), ["b"], mode=mode
    )
    assert not calls
    if mode == "cow":
        keys_ = ("updated-records", "inserted-records", "rewritten-files")
        assert [a.summary[k] for k in keys_] == [s.summary[k] for k in keys_]
        assert [a.summary[k] for k in keys_] == [1, 0, 1]
    for t in tables:
        got = sorted((r.b, r.v) for r in t.scan(spark).collect())
        assert got == sorted([(keys[0], 2), (keys[1], 1)])


def test_inserted_records_count_pending_deleted_keys(spark, tmp_path):
    """A source row whose target row a pending merge-on-read delete
    removed is an insert: 4 rows, ``v == 2`` deleted, then an upsert of
    keys 2 and 9 reports 2 inserted records on both paths, and
    total-records counts the rewritten snapshot's rows."""
    wh = Warehouse(str(tmp_path))
    arrow_t, spark_t = _twins(wh, "t", ["day(ts)"], {}, [[_row(k, 0, k) for k in range(4)]], 1)
    for t in (arrow_t, spark_t):
        t.delete_where(spark, "v == 2", mode="mor")
    source = [_row(2, 0, 20), _row(9, 0, 90)]
    a, s, used_spark = _merge_both(spark, arrow_t, spark_t, source, ["k"])
    assert not used_spark
    for snap in (a, s):
        assert snap.summary["inserted-records"] == 2
        assert snap.summary["total-records"] == sum(f.rows for f in snap.files) == 5
    _assert_same(spark, arrow_t, spark_t, a, s)
