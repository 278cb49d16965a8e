"""The driver's Arrow read and rewrites against their Spark twins.

``Table._read_arrow`` reads data files on the driver with the pending
merge-on-read deletes applied (predicates, equality-delete files and
positional-delete files); it must return the rows ``_read_files_mor``
returns. Compaction and the copy-on-write delete rewrite small inputs
through it and the Arrow writer; run both ways on twin tables (the Spark
way forced by ``DRIVER_MERGE_BYTES = 0``) they must give the same files
(per-file rows as multisets, partition values, stats and blooms), the
same snapshot summary and the same scan. Inputs that are not eligible
take the Spark path.
"""

import contextlib
import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.tables import ConcurrentModification, Warehouse
from iceberg_loader_spark.tables import maintenance
from iceberg_loader_spark.tables import table as table_module
from iceberg_loader_spark.tables.filters import to_arrow_expr
from iceberg_loader_spark.tables.partitioning import parse_partition_transform
from iceberg_loader_spark.tables.table import (
    Table,
    _append_build,
    _delete_ops,
    _schema,
    entry_from_footer,
)

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
ARROW = to_arrow_schema(SCHEMA)
ARROW_FULL = to_arrow_schema(FULL)
DAY0 = dt.datetime(2024, 5, 1)
# "a:b" and "sp ace" name partition directories that Spark's file URI
# percent-encodes, so positional deletes see them encoded
STRINGS = ["", "a", "a:b", "sp ace", "é"]


def _row(k, day=0, v=0, s="a", x=1.5, late=None):
    return {
        "k": k,
        "s": s,
        "ts": DAY0 + dt.timedelta(days=day, hours=(v or 0) % 24),
        "v": v,
        "x": x,
        "late": late,
    }


def _key(v):
    """Totally ordered form of a cell; NaN sorts last, -0.0 is 0.0."""
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (2, 0) if math.isnan(v) else (1, v + 0.0)
    return (1, v)


def _rows(dicts) -> list:
    return sorted(tuple(_key(r.get(c)) for c in FULL.names) for r in dicts)


def _scan(spark, t: Table) -> list:
    return _rows(r.asDict() for r in t.scan(spark).collect())


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
                _rows(rows),
            )
        )
    return {p: sorted(fs) for p, fs in out.items()}


@contextlib.contextmanager
def _spark_rewrites():
    """Record every run of compaction's Spark data path."""
    calls = []
    orig = maintenance._rewrite_spark

    def spy(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    maintenance._rewrite_spark = spy
    try:
        yield calls
    finally:
        maintenance._rewrite_spark = orig


def _import_file(t: Table, rel: str, rows: list) -> None:
    """Append a parquet file written outside the table's writers."""
    path = os.path.join(t.root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, ARROW), path)
    t._commit_with_retry(_append_build([entry_from_footer(path, rel)]))


def _apply(spark, t: Table, step) -> None:
    """One history step: an append (Arrow), the late column, a MoR
    predicate delete, an equality delete (a MoR upsert's key file), a
    positional delete, or a file imported under the connector's layout
    (``data/ds-<hex>/``) or outside any writer's layout."""
    kind, arg = step
    if kind == "append":
        schema = ARROW_FULL if "late" in t.schema().names else ARROW
        t.append(pa.Table.from_pylist(arg, schema))
    elif kind == "late":
        t.add_columns([LATE])
    elif kind == "pred":
        t.delete_where(spark, arg, mode="mor")
    elif kind == "pos":
        t.delete_where(spark, arg, mode="mor-pos")
    elif kind == "eq":
        rows, keys = arg
        schema = ARROW_FULL if "late" in t.schema().names else ARROW
        t.merge(spark, pa.Table.from_pylist(rows, schema), keys, mode="mor")
    else:
        _import_file(t, arg[0], arg[1])


def _twins(spark, wh, name, spec, props, steps):
    """Two tables given the same history."""
    spec = [parse_partition_transform(p) for p in spec]
    tables = [
        Table.create(wh, f"db.{side}_{name}", SCHEMA, spec, properties=props)
        for side in ("a", "s")
    ]
    for step in steps:
        for t in tables:
            _apply(spark, t, step)
    return tables


# ---- _read_arrow against _read_files_mor ----------------------------------

# every predicate here has an Arrow twin; "late" ones only once the
# column exists
PREDICATES = [
    "v > 1",
    "v <= -2",
    "s == 'a:b'",
    "s != 'a'",
    "x >= 0",
    "x > 1",
    "x == 0",
    "x < 1.5",
    "x < 10000000000000000",  # past 2^53: Spark casts the BIGINT to DOUBLE
    "k IN (1, 3, 5)",
    "v >= 0 and s == 'é'",
    "k != 4",
]
LATE_PREDICATES = ["late == 'p'", "late != 'q' and v < 3"]

_cells = {
    "k": st.none() | st.integers(0, 9),
    "day": st.integers(0, 2),
    "v": st.none() | st.integers(-3, 3),
    "s": st.none() | st.sampled_from(STRINGS),
    "x": st.none() | st.sampled_from([0.0, -0.0, 1.5, -2.25, math.inf, math.nan]),
    "late": st.none() | st.sampled_from(["p", "q"]),
}


@st.composite
def _histories(draw):
    spec = draw(st.sampled_from([[], ["s"], ["day(ts)"]]))
    steps, late = [], False
    for _ in range(draw(st.integers(1, 6))):
        kind = draw(
            st.sampled_from(
                ["append", "append", "late", "pred", "pos", "eq", "import"]
            )
        )
        if kind == "late" and late:
            kind = "append"
        if kind in ("append", "eq", "import"):
            rows = []
            for _ in range(draw(st.integers(1, 6))):
                c = {n: draw(s) for n, s in _cells.items()}
                r = _row(c["k"], c["day"], c["v"], c["s"], c["x"], c["late"])
                if not late or kind == "import":
                    del r["late"]
                rows.append(r)
            if kind == "append":
                steps.append(("append", rows))
            elif kind == "eq":
                keys = draw(st.sampled_from([["k"], ["k", "s"]]))
                unique = {tuple(r[c] for c in keys): r for r in rows}
                steps.append(("eq", (list(unique.values()), keys)))
            else:
                where = draw(st.sampled_from(["ds-" + "ab" * 16, "imported"]))
                steps.append(("import", (f"data/{where}/part-{len(steps)}.parquet", rows)))
        elif kind == "late":
            late = True
            steps.append(("late", None))
        else:
            preds = PREDICATES + (LATE_PREDICATES if late else [])
            steps.append((kind, draw(st.sampled_from(preds))))
    return spec, steps


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
@given(case=_histories(), subset=st.integers(0, 2**16))
def test_read_arrow_matches_read_files_mor(spark, tmp_path, case, subset):
    spec, steps = case
    wh = Warehouse(str(tmp_path / os.urandom(4).hex()))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform(p) for p in spec])
    for step in steps:
        try:
            _apply(spark, t, step)
        except ValueError as e:
            # a positional delete matching an imported file's row
            assert "positional delete refused" in str(e)
    snap = t.snapshot()
    files = [f for i, f in enumerate(snap.files) if not subset >> (i % 16) & 1]
    got = t._read_arrow(files, snap, 1 << 40)
    want = t._read_files_mor(spark, files, _schema(snap), _delete_ops(snap)).collect()
    assert got is not None
    assert _rows(got.to_pylist()) == _rows(r.asDict() for r in want)


def test_read_arrow_listed_deletes(spark, tmp_path):
    """Fixed cases of the property above: NaN under ``>``/``>=`` (Spark
    orders NaN above every number), positional deletes in partition
    directories Spark's file URI encodes, null and "" equality keys
    (a null key never matches), a connector-layout file, and a file
    outside any writer's layout."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform("s")])
    xs = [math.nan, -0.0, 0.0, 1.5, -2.25, None]
    t.append(
        pa.Table.from_pylist(
            [_row(k, v=k % 4, s=[*STRINGS, None][k % 6], x=xs[k % 6]) for k in range(24)],
            ARROW,
        )
    )
    _import_file(t, f"data/ds-{'cd' * 16}/part-0.parquet", [_row(50, x=math.nan)])
    _import_file(t, "imported/part-0.parquet", [_row(51, x=math.nan), _row(52, v=2)])
    t.delete_where(spark, "x > 1", mode="mor")
    t.delete_where(spark, "v == 1", mode="mor-pos")
    t.merge(
        spark,
        pa.Table.from_pylist([_row(None, s=None, v=9), _row(3, s="", v=9)], ARROW),
        ["k", "s"],
        mode="mor",
    )
    t.delete_where(spark, "x >= 0 and v == 2", mode="mor")
    snap = t.snapshot()
    assert any(d.get("kind") == "pos" for d in snap.delete_files)
    got = t._read_arrow(snap.files, snap, 1 << 30)
    want = t._read_files_mor(
        spark, snap.files, _schema(snap), _delete_ops(snap)
    ).collect()
    assert _rows(got.to_pylist()) == _rows(r.asDict() for r in want)
    assert 51 not in got["k"].to_pylist()


def test_read_arrow_declines_what_it_cannot_read_exactly(spark, tmp_path):
    """An untranslatable predicate, a float equality key and a UTC
    timestamp column each make ``_read_arrow`` return None; a delete
    that applies to no file read does not."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA)
    t.append(pa.Table.from_pylist([_row(1), _row(2, v=3)], ARROW))
    snap = t.snapshot()
    t.delete_where(spark, "s == null", mode="mor")
    assert t._read_arrow(snap.files, t.snapshot(), 1 << 30) is None
    later = Table.create(wh, "db.later", SCHEMA)
    later.append(pa.Table.from_pylist([_row(1, x=2.0), _row(2, x=0.5)], ARROW))
    later.merge(spark, pa.Table.from_pylist([_row(1, x=2.0)], ARROW), ["x"], mode="mor")
    later.append(pa.Table.from_pylist([_row(5)], ARROW))
    head = later.snapshot()
    assert later._read_arrow(head.files, head, 1 << 30) is None
    newest = [f for f in head.files if f.sequence == head.version]
    assert later._read_arrow(newest, head, 1 << 30).num_rows == 1
    utc = Table.create(
        wh, "db.utc", T.StructType([T.StructField("ts", T.TimestampType())])
    )
    utc.append(spark.createDataFrame([(DAY0,)], "ts timestamp"))
    assert utc._read_arrow(utc.snapshot().files, utc.snapshot(), 1 << 30) is None


@pytest.mark.parametrize(
    "where",
    [
        "s == null",  # a bare token: Spark reads a NULL literal
        "k == v",  # a bare token: Spark reads a column
        "k == '1'",  # cross-type: Spark casts the string
        "ts > '2024-05-01'",  # temporal
        "x == nan",
        "k == 1_0",
        "s == 'it''s'",
        "s == 'a\\\\b'",
        "K == 1",  # Spark resolves names case-insensitively
        "k = 1",  # not the filter grammar
        "k IN 1",
    ],
)
def test_to_arrow_expr_rejects_what_spark_reads_differently(where):
    assert to_arrow_expr(where, ARROW) is None


def test_wide_integer_literal_on_double_column(spark, tmp_path):
    """An integer literal past 2^53 against a double column compares as
    the double Spark casts it to (9007199254740993 rounds to 2^53), so a
    driver compaction applies such pending deletes as the scan does."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform("day(ts)")])
    xs = [1.5, 2e16, 2.0**53, math.nan, None]
    t.append(pa.Table.from_pylist([_row(k, x=x) for k, x in enumerate(xs)], ARROW))
    t.delete_where(spark, "x > 10000000000000000", mode="mor")
    t.delete_where(spark, "x == 9007199254740993", mode="mor")
    before = _scan(spark, t)
    assert sorted(r.k for r in t.scan(spark).collect()) == [0, 4]
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(t, spark)
    assert not calls
    assert _scan(spark, t) == before


# ---- compaction on the driver against the Spark path -----------------------

_HISTORY = [
    ("append", [_row(k, k % 3, k % 5, STRINGS[k % 5], x=k / 2) for k in range(12)]),
    ("pred", "v == 1"),
    ("late", None),
    ("append", [_row(k, k % 3, k % 5, "a:b", late="p") for k in range(12, 18)]),
    ("pos", "k >= 15"),
    ("eq", ([_row(2, 1, 4, "a", late="q"), _row(30, 2, 0, "sp ace")], ["k"])),
    ("append", [_row(k, 2, -k, "é", x=-0.0) for k in range(40, 44)]),
]


@pytest.mark.parametrize(
    "spec, props, kwargs",
    [
        (["day(ts)"], {}, {}),
        (["s"], {"write.sort-order": "v,k"}, {}),
        (["day(ts)"], {"write.bloom.keys": "k"}, {"sort_by": ["x"]}),
        ([], {}, {"sort_by": ["k"]}),
        ([], {"write.sort-order": "s"}, {"target_files": 1}),
    ],
    ids=["day", "identity-sorted", "bloom-sort-by", "flat-sort-by", "flat-one-file"],
)
def test_compaction_on_driver_matches_spark(spark, tmp_path, monkeypatch, spec, props, kwargs):
    wh = Warehouse(str(tmp_path))
    arrow_t, spark_t = _twins(spark, wh, "t", spec, props, _HISTORY)
    before = _scan(spark, arrow_t)
    assert before == _scan(spark, spark_t)
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(arrow_t, spark, **kwargs)
    assert not calls
    monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", 0)
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(spark_t, spark, **kwargs)
    assert calls
    a, s = arrow_t.snapshot(), spark_t.snapshot()
    assert a.summary == s.summary
    assert (a.delete_predicates, a.delete_files) == (s.delete_predicates, s.delete_files) == ([], [])
    assert sorted(f.sequence for f in a.files) == sorted(f.sequence for f in s.files)
    assert _files(arrow_t) == _files(spark_t)
    assert _scan(spark, arrow_t) == _scan(spark, spark_t) == before


def _events(n, days):
    """Messy event dicts like a stream's, in event-time order: skewed
    values with two decimals, a sparse key, a nested column, and a key
    that appears halfway."""
    rng = np.random.default_rng(7)
    types = ["view", "click", "purchase", "signup", "error"]
    out = []
    for k, t, us, u, x, p in zip(
        range(n),
        rng.integers(0, 5, n),
        np.sort(rng.integers(0, days * 86_400_000_000, n)),
        rng.integers(0, 1500, n),
        np.round(rng.exponential(60.0, n), 2),
        rng.integers(0, 100, n),
    ):
        row = {
            "event_id": k,
            "ts": (DAY0 + dt.timedelta(microseconds=int(us))).isoformat(sep=" "),
            "user_id": int(u),
            "event_type": types[t],
            "value": float(x),
            "props": {"k": int(p), "tags": ["a", "b"][: k % 3]},
        }
        if k % 97 == 0:
            del row["user_id"]
        if k >= n // 2:
            row["channel"] = ["web", "app", "api"][k % 3]
        out.append(row)
    return out


def test_compaction_bytes_match_spark_writer(spark, tmp_path, monkeypatch):
    """A 24,000-row day(ts) compaction of loader flushes, written by the
    Arrow writer, is at most 2 % larger than the Spark writer's files:
    both write zstd at parquet-mr's level (at pyarrow's own level 1 the
    Arrow files were 6 % larger)."""
    wh = Warehouse(str(tmp_path))
    loader = SparkLoader(spark, wh)
    cfg = LoaderConfig(partition_by="day(ts)", schema_evolution=True)
    events = _events(24_000, 8)
    for name in ("arrow", "spark"):
        for i in range(0, len(events), 1000):
            loader.load_data(events[i : i + 1000], f"db.{name}", cfg)
    arrow_t, spark_t = wh.load_table("db.arrow"), wh.load_table("db.spark")
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(arrow_t, spark)
    assert not calls
    monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", 0)
    maintenance.rewrite_data_files(spark_t, spark)
    a_files, s_files = arrow_t.snapshot().files, spark_t.snapshot().files
    assert sorted((json.dumps(f.partition), f.rows) for f in a_files) == sorted(
        (json.dumps(f.partition), f.rows) for f in s_files
    )
    arrow_bytes = sum(f.bytes for f in a_files)
    spark_bytes = sum(f.bytes for f in s_files)
    assert arrow_bytes <= 1.02 * spark_bytes, (arrow_bytes, spark_bytes)


def test_unknown_sort_by_rejected(spark, tmp_path, monkeypatch):
    """Both data paths reject a ``sort_by`` column the table lacks."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA)
    for k in range(2):
        t.append(pa.Table.from_pylist([_row(k)], ARROW))
    version = t.snapshot().version
    for budget in (table_module.DRIVER_MERGE_BYTES, 0):
        monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", budget)
        with pytest.raises(ValueError, match=r"unknown columns: \['nope'\]"):
            maintenance.rewrite_data_files(t, spark, sort_by=["k", "nope"])
    assert t.snapshot().version == version


def _compacts_in_spark(spark, t: Table, **kwargs) -> None:
    before = _scan(spark, t)
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(t, spark, **kwargs)
    assert calls
    assert t.snapshot().operation == "replace"
    assert _scan(spark, t) == before


def test_compaction_fallbacks_take_spark(spark, tmp_path, monkeypatch):
    """What the driver cannot rewrite exactly compacts in Spark: z-order,
    an unpartitioned table split over several files, a predicate
    without an Arrow twin, a float equality key, a UTC timestamp column,
    and input over the driver budget."""
    wh = Warehouse(str(tmp_path))
    rows = [_row(k, k % 2, k % 4, x=float(k)) for k in range(16)]

    def table(name, spec=()):
        t = Table.create(wh, f"db.{name}", SCHEMA, [parse_partition_transform(p) for p in spec])
        for i in range(0, 16, 4):
            t.append(pa.Table.from_pylist(rows[i : i + 4], ARROW))
        return t

    _compacts_in_spark(spark, table("z"), zorder_by=["k", "v"], target_files=2)
    _compacts_in_spark(spark, table("split"), target_files=2)
    t = table("bare", ["day(ts)"])
    t.delete_where(spark, "s == null", mode="mor")
    _compacts_in_spark(spark, t)
    t = table("float_key", ["day(ts)"])
    t.merge(spark, pa.Table.from_pylist([_row(99, x=3.0)], ARROW), ["x"], mode="mor")
    _compacts_in_spark(spark, t)
    assert sorted(r.k for r in t.scan(spark).collect()) == sorted(
        [k for k in range(16) if k != 3] + [99]
    )
    utc = Table.create(
        wh, "db.utc", T.StructType([T.StructField("ts", T.TimestampType())])
    )
    for i in range(3):
        utc.append(spark.createDataFrame([(DAY0 + dt.timedelta(hours=i),)], "ts timestamp"))
    _compacts_in_spark(spark, utc)
    t = table("big", ["day(ts)"])
    monkeypatch.setattr(
        table_module, "DRIVER_MERGE_BYTES", sum(f.bytes for f in t.snapshot().files) - 1
    )
    _compacts_in_spark(spark, t)


def test_concurrent_delete_survives_driver_compaction(spark, tmp_path, monkeypatch):
    """A MoR delete recorded between the driver's read and the commit
    still applies after compaction (the rewritten files inherit the
    input's sequence); a concurrent compaction aborts it."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform("day(ts)")])
    for i in range(3):
        t.append(pa.Table.from_pylist([_row(k, k % 2, k) for k in range(4 * i, 4 * i + 4)], ARROW))
    t.delete_where(spark, "v == 0", mode="mor")
    orig = Table._rewrite_rows_arrow
    racing = []

    def race(self, *a, **k):
        out = orig(self, *a, **k)
        if not racing:
            racing.append(1)
            Table(wh, "db.t").delete_where(spark, "v == 5", mode="mor")
        return out

    monkeypatch.setattr(Table, "_rewrite_rows_arrow", race)
    with _spark_rewrites() as calls:
        maintenance.rewrite_data_files(t, spark)
    assert not calls
    snap = t.snapshot()
    assert [p["where"] for p in snap.delete_predicates] == ["v == 5"]
    assert sorted(r.k for r in t.scan(spark).collect()) == [
        k for k in range(12) if k not in (0, 5)
    ]

    def compact_first(self, *a, **k):
        out = orig(self, *a, **k)
        if len(racing) == 1:
            racing.append(1)
            maintenance.rewrite_data_files(Table(wh, "db.t"), spark)
        return out

    t.append(pa.Table.from_pylist([_row(20, 1, 20)], ARROW))
    monkeypatch.setattr(Table, "_rewrite_rows_arrow", compact_first)
    with pytest.raises(ConcurrentModification):
        maintenance.rewrite_data_files(t, spark)
    assert sorted(r.k for r in t.scan(spark).collect()) == [
        k for k in range(12) if k not in (0, 5)
    ] + [20]


# ---- the CoW delete on the driver against the Spark path -------------------


@pytest.mark.parametrize(
    "spec, where",
    [
        (["day(ts)"], "v >= 2"),
        (["s"], "x > 1 and k != 4"),
        ([], "k IN (1, 2)"),
    ],
    ids=["day", "identity", "flat-one-candidate"],
)
def test_cow_delete_on_driver_matches_spark(spark, tmp_path, monkeypatch, spec, where):
    wh = Warehouse(str(tmp_path))
    steps = _HISTORY if spec else _HISTORY[:2]
    arrow_t, spark_t = _twins(spark, wh, "t", spec, {}, steps)
    writes = []
    orig = Table._write_data_files
    monkeypatch.setattr(
        Table, "_write_data_files", lambda self, *a, **k: writes.append(a) or orig(self, *a, **k)
    )
    a = arrow_t.delete_where(spark, where)
    assert writes == []
    monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", 0)
    s = spark_t.delete_where(spark, where)
    assert writes
    assert a.summary == s.summary
    assert a.summary["rewritten-files"] > 0
    assert _files(arrow_t) == _files(spark_t)
    assert _scan(spark, arrow_t) == _scan(spark, spark_t)


def test_compaction_total_records_counts_live_rows(spark, tmp_path, monkeypatch):
    """Compaction materializes the pending deletes, so total-records is
    the rows left: 30 rows less a predicate, a positional and an
    equality delete leave 10, on the driver path and on the Spark path."""
    wh = Warehouse(str(tmp_path))
    for name, budget in (("a", table_module.DRIVER_MERGE_BYTES), ("s", 0)):
        monkeypatch.setattr(table_module, "DRIVER_MERGE_BYTES", budget)
        t = Table.create(wh, f"db.{name}", SCHEMA, [parse_partition_transform("day(ts)")])
        t.append(pa.Table.from_pylist([_row(k, k % 3, k) for k in range(30)], ARROW))
        t.delete_where(spark, "v >= 20", mode="mor")
        t.delete_where(spark, "v < 5", mode="mor-pos")
        keys = spark.createDataFrame([(k,) for k in range(5, 10)], "k bigint")
        t.delete_by_keys(spark, keys, ["k"])
        with _spark_rewrites() as calls:
            maintenance.rewrite_data_files(t, spark)
        assert bool(calls) == (budget == 0)
        assert t.snapshot().summary["total-records"] == 10
        assert sorted(r.k for r in t.scan(spark).collect()) == list(range(10, 20))


# ---- the driver scan against the Spark scan --------------------------------

# scan filters: every one has an Arrow twin; "k == 42" matches no row
SCAN_FILTERS = PREDICATES + ["k == 42"]


def _scan_both(spark, t: Table, where: str, **ref):
    """One filtered scan both ways: (rows on the driver path, rows on the
    Spark path forced by ``DRIVER_SCAN_READ_BYTES = 0``, whether the first
    scan read on the driver, whether both frames have one schema)."""
    calls = []
    frame, budget = table_module._local_frame, table_module.DRIVER_SCAN_READ_BYTES
    table_module._local_frame = lambda *a: calls.append(a) or frame(*a)
    try:
        driver = t.scan(spark, where=where, **ref)
        took_driver = bool(calls)
        table_module.DRIVER_SCAN_READ_BYTES = 0
        forced = t.scan(spark, where=where, **ref)
    finally:
        table_module._local_frame, table_module.DRIVER_SCAN_READ_BYTES = frame, budget
    return driver.collect(), forced.collect(), took_driver, driver.schema == forced.schema


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
@given(
    case=_histories(),
    which=st.integers(0, len(SCAN_FILTERS) + len(LATE_PREDICATES) - 1),
    ref=st.sampled_from(["head", "version", "tag", "as_of"]),
    pick=st.integers(0, 2**16),
)
def test_driver_scan_matches_spark_scan(spark, tmp_path, case, which, ref, pick):
    """A filtered scan whose pruned files fit ``DRIVER_SCAN_READ_BYTES`` reads
    on the driver and returns the Spark scan's rows, under every delete
    kind and every way of naming a snapshot."""
    spec, steps = case
    wh = Warehouse(str(tmp_path / os.urandom(4).hex()))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform(p) for p in spec])
    for step in steps:
        try:
            _apply(spark, t, step)
        except ValueError as e:
            assert "positional delete refused" in str(e)
    history = t.history()
    snap = history[pick % len(history)]
    kwargs = {
        "head": {},
        "version": {"version": snap.version},
        "tag": {"tag": "pinned"},
        "as_of": {"as_of_timestamp_ms": snap.timestamp_ms},
    }[ref]
    if ref == "tag":
        t.set_tag("pinned", snap.version)
    fields = (t.snapshot() if ref == "head" else snap).schema_json["fields"]
    late = "late" in {f["name"] for f in fields}
    filters = SCAN_FILTERS + (LATE_PREDICATES if late else [])
    where = filters[which % len(filters)]
    driver, forced, took_driver, same_schema = _scan_both(spark, t, where, **kwargs)
    assert took_driver and same_schema
    assert _rows(r.asDict() for r in driver) == _rows(r.asDict() for r in forced)


def test_driver_scan_listed_cases(spark, tmp_path):
    """Fixed cases of the property above: NaN rows under ``>``/``>=``
    (Spark orders NaN above every number), an empty result, a predicate,
    a positional and an equality delete pending, and a point read that
    runs no Spark job."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA, [parse_partition_transform("day(ts)")])
    xs = [math.nan, -0.0, 0.0, 1.5, 7.0, None]
    for day in range(3):
        t.append(
            pa.Table.from_pylist(
                [_row(10 * day + k, day, k % 4, x=xs[k % 6]) for k in range(10)], ARROW
            )
        )
    t.delete_where(spark, "v == 3", mode="mor")
    t.delete_where(spark, "k == 5", mode="mor-pos")
    t.merge(spark, pa.Table.from_pylist([_row(21, 2, 9)], ARROW), ["k"], mode="mor")
    for where, want in (
        ("x > 5", [0, 4, 6, 10, 14, 16, 20, 24, 26]),
        ("x >= 1.5 and k < 10", [0, 4, 6, 9]),
        ("k == 42", []),
        ("k == 21", [21]),
        ("x == 0 and v == 3", []),
    ):
        driver, forced, took_driver, same_schema = _scan_both(spark, t, where)
        assert took_driver and same_schema, where
        assert sorted(r.k for r in driver) == want, where
        assert _rows(r.asDict() for r in driver) == _rows(r.asDict() for r in forced)
    [row] = t.scan(spark, where="k == 21").collect()
    assert row.v == 9
    sc = spark.sparkContext
    sc.setJobGroup("driver-point-read", "driver-point-read")
    try:
        assert [r.k for r in t.scan(spark, where="k == 4").collect()] == [4]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("driver-point-read") == []


def test_scan_keeps_negative_zero_under_a_zero_literal(spark, tmp_path):
    """A float term against zero is not pushed into the parquet reader,
    which orders -0.0 below 0.0: its dictionary filter dropped the row
    group of a -0.0 file under ``x == 0`` on the Spark path."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA)
    t.append(pa.Table.from_pylist([_row(1, x=-0.0), _row(2, x=None)], ARROW))
    for where in ("x == 0", "x <= 0", "x IN (0, 7)"):
        driver, forced, took_driver, _ = _scan_both(spark, t, where)
        assert took_driver, where
        assert [r.k for r in driver] == [r.k for r in forced] == [1], where


def test_scans_without_a_driver_twin_take_spark(spark, tmp_path, monkeypatch):
    """An unfiltered scan, a filter without an Arrow twin, a pending
    delete without one, pruned files over ``DRIVER_SCAN_READ_BYTES`` and
    kept rows over ``DRIVER_SCAN_KEPT_BYTES`` keep the lazy parquet scan."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA)
    t.append(pa.Table.from_pylist([_row(k, v=k) for k in range(4)], ARROW))
    calls = []
    frame = table_module._local_frame
    monkeypatch.setattr(table_module, "_local_frame", lambda *a: calls.append(a) or frame(*a))
    assert t.scan(spark).count() == 4
    assert sorted(r.k for r in t.scan(spark, where="k == v").collect()) == [0, 1, 2, 3]
    assert t.scan(spark, where="ts > '2024-05-01'").count() == 3
    monkeypatch.setattr(
        table_module, "DRIVER_SCAN_READ_BYTES", sum(f.bytes for f in t.snapshot().files) - 1
    )
    assert t.scan(spark, where="k >= 1").count() == 3
    monkeypatch.setattr(table_module, "DRIVER_SCAN_READ_BYTES", 1 << 30)
    monkeypatch.setattr(table_module, "DRIVER_SCAN_KEPT_BYTES", 0)
    assert t.scan(spark, where="k >= 1").count() == 3
    monkeypatch.setattr(table_module, "DRIVER_SCAN_KEPT_BYTES", 1 << 30)
    t.delete_where(spark, "s == null", mode="mor")
    assert t.scan(spark, where="k >= 1").count() == 3
    assert calls == []


def _spark_work(spark, action) -> tuple[int, int]:
    """(jobs, tasks) that ``action()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = os.urandom(8).hex()
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numCompletedTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    )
    return len(jobs), tasks


def test_small_scans_are_one_task(spark, tmp_path, monkeypatch):
    """A Spark scan of pruned files within ``DRIVER_SCAN_READ_BYTES``, and
    a driver scan of more than one row, is one partition, so a count over
    it is one job of one task; it returns the rows of the scan that keeps
    its input's partitioning (the bound set to 0, or
    ``partitioned_scans``). A one-row driver scan is left as it is: its
    collect runs no job."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", SCHEMA)
    for part in range(4):
        t.append(pa.Table.from_pylist([_row(10 * part + k, v=k) for k in range(10)], ARROW))
    t.delete_where(spark, "v == 3", mode="mor")
    wide = t.scan(spark)
    with table_module.partitioned_scans():
        spread = t.scan(spark)
        spread_driver = t.scan(spark, where="k < 25")
    monkeypatch.setattr(table_module, "DRIVER_SCAN_READ_BYTES", 0)
    forced = t.scan(spark)
    monkeypatch.undo()
    assert wide.rdd.getNumPartitions() == 1
    assert forced.rdd.getNumPartitions() == spread.rdd.getNumPartitions() == 4
    want = _rows(r.asDict() for r in forced.collect())
    assert _rows(r.asDict() for r in wide.collect()) == want
    assert len(want) == 36
    assert _spark_work(spark, wide.count) == (1, 1)

    driver = t.scan(spark, where="k < 25")
    assert driver.rdd.getNumPartitions() == 1 < spread_driver.rdd.getNumPartitions()
    got = _rows(r.asDict() for r in driver.collect())
    assert got == _rows(r.asDict() for r in spread_driver.collect())
    assert len(got) == 22
    assert _spark_work(spark, driver.count) == (1, 1)
    point = t.scan(spark, where="k == 4")
    assert point.rdd.getNumPartitions() == 1
    assert _spark_work(spark, point.collect) == (0, 0)


TYPED = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("ks", T.ArrayType(T.LongType(), False), False),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("tss", T.ArrayType(T.TimestampNTZType())),
        T.StructField(
            "st",
            T.StructType(
                [
                    T.StructField("a", T.StructType([T.StructField("b", T.StringType())])),
                    T.StructField("c", T.ArrayType(T.IntegerType())),
                ]
            ),
        ),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("d", T.DateType()),
        T.StructField("bin", T.BinaryType()),
    ]
)


def _typed_row(k):
    import decimal

    if k % 4 == 3:
        return (k, [k], None, None, None, None, None, None)
    return (
        k,
        [k, -k],
        {"a": k, "b": None} if k % 2 else {},
        [DAY0 + dt.timedelta(hours=k), None][: 1 + k % 2],
        ({"b": f"s{k}"} if k % 2 else None, [k, None]),
        decimal.Decimal(k) / 4,
        (DAY0 + dt.timedelta(days=k)).date(),
        bytes([k, 0, 255]),
    )


def _canonical(rows) -> list:
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=repr) for r in rows
    )


@pytest.mark.parametrize(
    "where, on_driver",
    [
        ("k >= 1", True),
        ("k IN (0, 2, 5)", True),
        ("dec > 1", False),  # decimal literal: no Arrow twin
        ("d == '2024-05-03'", False),  # temporal
        ("bin != 'x'", False),  # cross-type
    ],
)
def test_driver_scan_type_coverage(spark, tmp_path, where, on_driver):
    """Map, array of timestamp_ntz, nested struct, decimal, date and
    binary columns read on the driver give the Spark scan's rows, and
    non-nullable columns read as nullable as in Spark's parquet scan; a
    filter on a column without an Arrow twin takes the Spark path. The
    decimal, stored as an integer, has no usable footer stats."""
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.t", TYPED)
    for lo in (0, 4):
        t.append(spark.createDataFrame([_typed_row(k) for k in range(lo, lo + 4)], TYPED))
    assert all("dec" not in f.stats and "k" in f.stats for f in t.snapshot().files)
    t.delete_where(spark, "k == 6", mode="mor")
    driver, forced, took_driver, same_schema = _scan_both(spark, t, where)
    assert took_driver == on_driver
    assert same_schema
    assert _canonical(driver) == _canonical(forced)
    assert len(forced) > 0
