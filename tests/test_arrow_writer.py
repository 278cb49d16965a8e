"""The driver's Arrow writer against the Spark writer.

``Table.append`` of an Arrow table writes on the driver whenever the
Arrow twin of the write reproduces Spark's exactly. The same rows written
both ways must give the same files (per-file rows, partition values and
stats), blooms, row order under ``write.sort-order``, snapshot summary
and scan result; inputs without an exact twin must land on the Spark
writer and give its result.
"""

import contextlib
import datetime as dt
import json
import math
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.sources.spark_datasource import register
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables import table as table_module
from iceberg_loader_spark.tables.partitioning import (
    HIVE_NULL,
    PartitionField,
    parse_partition_transform,
)
from iceberg_loader_spark.tables.table import Table

SCHEMA = T.StructType(
    [
        T.StructField("rid", T.LongType()),
        T.StructField("i", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("x", T.DoubleType()),
    ]
)
ARROW = pa.schema(
    [
        ("rid", pa.int64()),
        ("i", pa.int64()),
        ("n", pa.int32()),
        ("s", pa.string()),
        ("b", pa.bool_()),
        ("d", pa.date32()),
        ("ts", pa.timestamp("us")),
        ("x", pa.float64()),
    ]
)

# every transform with an exact Arrow twin, over the source types it has
# one for
_TEXT_SOURCES = ["i", "n", "s", "b", "d"]
_FIELDS = (
    [PartitionField("identity", c) for c in _TEXT_SOURCES]
    + [
        PartitionField(t, c)
        for t in ("year", "month", "day", "hour")
        for c in ("d", "ts")
    ]
    + [PartitionField("truncate", c, w) for c in _TEXT_SOURCES for w in (1, 2, 4)]
    + [PartitionField("void", c) for c in ("x", "s")]
)
CODECS = ["none", "uncompressed", "snappy", "gzip", "lz4", "lz4_raw", "zstd"]

# A NUL cannot name a partition directory under either writer; any other
# code point can.
_text = st.text(
    st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=5,
)
_values = {
    "i": st.none() | st.integers(-30, 30) | st.integers(-(2**62), 2**62),
    "n": st.none() | st.integers(-(2**31), 2**31 - 1),
    "s": st.none() | st.sampled_from(["", HIVE_NULL, "a", "ab", "é/x=%"]) | _text,
    "b": st.none() | st.booleans(),
    "d": st.none() | st.dates(),
    "ts": st.none() | st.datetimes(),
    "x": st.none() | st.sampled_from([0.0, -0.0, math.nan]) | st.floats(),
}


@st.composite
def _flushes(draw):
    rows = draw(st.lists(st.fixed_dictionaries(_values), min_size=1, max_size=40))
    for rid, row in enumerate(rows):
        row["rid"] = rid
    spec = draw(
        st.lists(st.sampled_from(_FIELDS), max_size=2, unique_by=lambda f: f.name)
    )
    props = {"write.parquet.compression-codec": draw(st.sampled_from(CODECS))}
    sort_cols = st.sampled_from(["i", "s", "b", "d", "ts", "x"])
    sort = draw(st.none() | st.lists(sort_cols, min_size=1, max_size=2, unique=True))
    if sort:
        props["write.sort-order"] = ",".join(sort)
    bloom = draw(st.sampled_from([None, "i", "s,i"]))
    if bloom:
        props["write.bloom.keys"] = bloom
    return pa.Table.from_pylist(rows, ARROW), spec, props


@contextlib.contextmanager
def _spark_writes():
    """Record every call of the Spark writer."""
    calls = []
    orig = Table._write_data_files

    def spy(self, *a, **k):
        calls.append(a)
        return orig(self, *a, **k)

    Table._write_data_files = spy
    try:
        yield calls
    finally:
        Table._write_data_files = orig


def _key(v):
    """Totally ordered, NaN-safe form of a cell; -0.0 and 0.0 sort as
    equal in both writers, so they are one key here."""
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (2, 0) if math.isnan(v) else (1, v + 0.0)
    return (1, v)


def _files(t: Table) -> dict:
    """partition JSON -> (row count, stats JSON, bloom, the file's rows)."""
    out = {}
    for f in t.snapshot().files:
        part = json.dumps(f.partition, sort_keys=True)
        assert part not in out, f"two files for partition {part}"
        rows = pq.read_table(os.path.join(t.root, f.path)).to_pylist()
        out[part] = (f.rows, json.dumps(f.stats, sort_keys=True), f.bloom, rows)
    return out


def _write_both(spark, wh, rows: pa.Table, spec, props):
    name = uuid.uuid4().hex[:8]
    arrow_t, spark_t = (
        Table.create(wh, f"db.{side}{name}", SCHEMA, spec, properties=props)
        for side in ("a", "s")
    )
    with _spark_writes() as calls:
        a = arrow_t.append(rows)
    s = spark_t.append(spark.createDataFrame(rows, schema=SCHEMA).coalesce(1))
    return arrow_t, spark_t, a, s, bool(calls)


def _assert_same(spark, arrow_t, spark_t, a, s, sort):
    keys = ("added-files", "added-records", "total-records")
    assert {k: a.summary[k] for k in keys} == {k: s.summary[k] for k in keys}
    got, want = _files(arrow_t), _files(spark_t)
    assert got.keys() == want.keys()
    for part, (rows, stats, bloom, data) in want.items():
        g_rows, g_stats, g_bloom, g_data = got[part]
        assert (g_rows, g_stats, g_bloom) == (rows, stats, bloom), part
        if sort:
            assert [[_key(r[c]) for c in sort] for r in g_data] == [
                [_key(r[c]) for c in sort] for r in data
            ], part
        by_rid = lambda rs: sorted(  # noqa: E731
            (tuple(_key(v) for v in r.values()) for r in rs)
        )
        assert by_rid(g_data) == by_rid(data), part
    scan = lambda t: sorted(  # noqa: E731
        tuple(_key(v) for v in r) for r in t.scan(spark).collect()
    )
    assert scan(arrow_t) == scan(spark_t)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
@given(flush=_flushes())
def test_arrow_writer_matches_spark_writer(spark, tmp_path, flush):
    rows, spec, props = flush
    wh = Warehouse(str(tmp_path))
    arrow_t, spark_t, a, s, used_spark = _write_both(spark, wh, rows, spec, props)
    # the inputs here the Arrow writer cannot reproduce: a NaN in a float
    # column (parquet-mr records NaN as a bound), and a void field under a
    # sort order (Spark's write loses the sort)
    sort = props.get("write.sort-order")
    has_nan = any(v is not None and math.isnan(v) for v in rows["x"].to_pylist())
    void_sort = bool(sort) and any(f.transform == "void" for f in spec)
    assert used_spark == (has_nan or void_sort)
    _assert_same(spark, arrow_t, spark_t, a, s, sort.split(",") if sort else None)


def _plain_rows(n=30):
    base = dt.datetime(2024, 3, 1, 5)
    return [
        {
            "rid": k,
            "i": k % 7,
            "n": k,
            "s": ["", None, HIVE_NULL, "x", "y"][k % 5],
            "b": k % 2 == 0,
            "d": base.date() + dt.timedelta(days=k % 3),
            "ts": base + dt.timedelta(hours=5 * k),
            "x": k / 4,
        }
        for k in range(n)
    ]


def test_hive_null_values_share_one_file(spark, tmp_path):
    """null, "" and the Hive default name all read back as a null
    partition value: both writers put them in one file."""
    wh = Warehouse(str(tmp_path))
    rows = pa.Table.from_pylist(_plain_rows(), ARROW)
    spec = [parse_partition_transform("s")]
    arrow_t, spark_t, a, s, used_spark = _write_both(spark, wh, rows, spec, {})
    assert not used_spark
    files = _files(arrow_t)
    assert files['{"s": null}'][0] == 18
    _assert_same(spark, arrow_t, spark_t, a, s, None)


@pytest.mark.parametrize(
    "spec, schema_change",
    [
        (["bucket(4, i)"], None),
        (["day(ts)"], ("ts", T.TimestampType(), pa.timestamp("us", tz="UTC"))),
    ],
    ids=["bucket", "utc-timestamp"],
)
def test_ineligible_flush_takes_spark_writer(spark, tmp_path, spec, schema_change):
    """No exact Arrow twin: the flush goes through the Spark writer and
    gives the result of writing the same rows as a DataFrame."""
    schema, arrow = SCHEMA, ARROW
    if schema_change:
        col, spark_type, arrow_type = schema_change
        schema = T.StructType(
            [
                T.StructField(col, spark_type) if f.name == col else f
                for f in SCHEMA.fields
            ]
        )
        arrow = arrow.set(arrow.get_field_index(col), pa.field(col, arrow_type))
    rows = pa.Table.from_pylist(_plain_rows(), ARROW).cast(arrow)
    wh = Warehouse(str(tmp_path))
    spec = [parse_partition_transform(p) for p in spec]
    arrow_t = Table.create(wh, "db.a", schema, partition_spec=spec)
    spark_t = Table.create(wh, "db.s", schema, partition_spec=spec)
    with _spark_writes() as calls:
        a = arrow_t.append(rows)
    assert len(calls) == 1
    s = spark_t.append(spark.createDataFrame(rows, schema=schema).coalesce(1))
    _assert_same(spark, arrow_t, spark_t, a, s, None)


def test_codec_without_pyarrow_writer_takes_spark_writer(tmp_path, monkeypatch):
    wh = Warehouse(str(tmp_path))
    props = {"write.parquet.compression-codec": "lzo"}
    t = Table.create(wh, "db.t", SCHEMA, properties=props)
    calls = []
    monkeypatch.setattr(
        Table, "_write_data_files", lambda self, *a, **k: calls.append(a) or []
    )
    t.append(pa.Table.from_pylist(_plain_rows(3), ARROW))
    assert len(calls) == 1


def test_empty_record_batches_keep_every_row(spark, tmp_path):
    """An Arrow table of record batches [2, 0, 1] with a NaN, which sends
    it to the Spark writer, keeps all its rows through append and merge:
    PySpark's ``createDataFrame`` stops at an empty batch that is not the
    first, so the batches reach it without the empty one."""
    rows = _plain_rows(3)
    rows[0]["x"] = math.nan

    def batched(rows):
        return pa.Table.from_batches(
            [pa.RecordBatch.from_pylist(rows[a:b], ARROW) for a, b in ((0, 2), (2, 2), (2, 3))]
        )

    t = Table.create(Warehouse(str(tmp_path)), "db.t", SCHEMA)
    with _spark_writes() as calls:
        t.append(batched(rows))
    assert calls
    assert sorted(r.rid for r in t.scan(spark).collect()) == [0, 1, 2]
    updates = [{**r, "rid": r["rid"] + 1, "n": -1} for r in rows]
    t.merge(spark, batched(updates), ["rid"])
    got = {r.rid: r.n for r in t.scan(spark).collect()}
    assert got == {0: 0, 1: -1, 2: -1, 3: -1}


def _events(n=1000):
    types = ["click", "view", "buy"]
    return [
        {
            "event_id": k,
            "ts": f"2024-01-{1 + k % 5:02d} {k % 24:02d}:{k % 60:02d}:00",
            "user_id": (k * 7919) % 300,
            "event_type": types[k % 3],
            "value": round((k * 37) % 1000 / 7, 3),
            "props": {"k": k % 11, "tags": ["a", "b"][: k % 3]},
        }
        for k in range(n)
    ]


def test_loader_flush_bytes_and_entries_match_spark(spark, tmp_path, monkeypatch):
    """The same messy-dict flush into a day(ts) table, once through the
    Arrow writer and once, with the per-file target shrunk so the flush
    spans several target files, through the Spark writer: the same
    entries, and Arrow files at most 1.05x the Spark writer's bytes."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(partition_by="day(ts)", load_timestamp=False)
    with _spark_writes() as calls:
        loader.load_data(_events(), "db.arrow", cfg)
    assert not calls
    monkeypatch.setattr(table_module, "TARGET_FILE_BYTES", 1024)
    with _spark_writes() as calls:
        loader.load_data(_events(), "db.spark", cfg)
    assert calls
    arrow_t, spark_t = wh.load_table("db.arrow"), wh.load_table("db.spark")
    got, want = _files(arrow_t), _files(spark_t)
    assert {p: v[:3] for p, v in got.items()} == {p: v[:3] for p, v in want.items()}
    arrow_bytes = sum(f.bytes for f in arrow_t.snapshot().files)
    spark_bytes = sum(f.bytes for f in spark_t.snapshot().files)
    assert arrow_bytes <= 1.05 * spark_bytes, (arrow_bytes, spark_bytes)


_PARQUET_CODECS = {
    "none": "UNCOMPRESSED",
    "uncompressed": "UNCOMPRESSED",
    "snappy": "SNAPPY",
    "gzip": "GZIP",
    # pyarrow writes LZ4_RAW and names it LZ4
    "lz4": "LZ4",
    "lz4_raw": "LZ4",
    "zstd": "ZSTD",
    "brotli": "BROTLI",
}


@pytest.mark.parametrize("codec", list(_PARQUET_CODECS))
def test_spark_codec_names_write_through_loader_and_connector(spark, tmp_path, codec):
    """Every Spark codec name a table may carry writes through the
    loader's Arrow flush and through the sparkberg connector."""
    wh = Warehouse(str(tmp_path))
    props = {"write.parquet.compression-codec": codec}
    cfg = LoaderConfig(load_timestamp=False, table_properties=props)
    SparkLoader(spark, wh).load_data([{"k": 1}, {"k": 2}], "db.loaded", cfg)
    schema = T.StructType([T.StructField("k", T.LongType())])
    Table.create(wh, "db.connector", schema, properties=props)
    register(spark)
    spark.createDataFrame([(1,), (2,)], schema).write.format("sparkberg").mode(
        "append"
    ).save(wh.table_root("db.connector"))
    for name in ("db.loaded", "db.connector"):
        t = wh.load_table(name)
        assert t.scan(spark).count() == 2
        for f in t.snapshot().files:
            md = pq.ParquetFile(os.path.join(t.root, f.path)).metadata
            assert md.row_group(0).column(0).compression == _PARQUET_CODECS[codec]


@pytest.mark.parametrize("transform", ["month", "day", "hour"])
def test_time_partition_values_before_epoch_and_null(spark, tmp_path, transform):
    """The Arrow writer formats each distinct truncated value once; the
    values match the Spark writer's for pre-epoch instants, a
    four-digit year below 1000 and nulls."""
    stamps = [
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1969, 1, 1, 0, 0, 0, 1),
        dt.datetime(999, 3, 4, 5, 6, 7),
        dt.datetime(1900, 1, 1),
        dt.datetime(1970, 1, 1),
        dt.datetime(2024, 3, 1, 5),
        None,
    ]
    rows = [
        {
            "rid": k,
            "ts": stamps[k % len(stamps)],
            "d": stamps[(k + 3) % len(stamps)] and stamps[(k + 3) % len(stamps)].date(),
        }
        for k in range(3 * len(stamps))
    ]
    spec = [PartitionField(transform, "ts"), PartitionField(transform, "d")]
    arrow_t, spark_t, a, s, used_spark = _write_both(
        spark, Warehouse(str(tmp_path)), pa.Table.from_pylist(rows, ARROW), spec, {}
    )
    assert not used_spark
    _assert_same(spark, arrow_t, spark_t, a, s, None)
