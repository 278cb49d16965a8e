"""Partition transforms: parser, Spark expressions, naming, guard rails.

Grammar and semantics mirror the reference parser
(``/root/reference src/iceberg_loader/core/partitioning.py:18-96``) and
field-naming convention (``core/schema.py:177-186``):

* ``"col"``                → identity, field name ``col``
* ``"year(ts)"``…``"hour(ts)"`` → time transforms, field name ``ts_year``…
* ``"bucket(16, id)"``     → hash bucket, field name ``id_bucket_16``
* ``"truncate(4, name)"``  → prefix/width truncate, field name ``name_trunc_4``
* ``"void(col)"``          → constant-null transform, field name ``col_void``

Guard rails replicated: time transforms require a date/timestamp (or
promotable string) column; identity on a timestamp warns; identity on the
load-timestamp column is rejected at config time (see config.py).

The Spark writer materializes each transform as a derived column
(``spark_expr``) and uses Spark's ``partitionBy`` — giving directory-level
data clustering exactly like Iceberg's hidden partitioning. The driver's
Arrow writer computes the same partition strings with ``arrow_values``,
the Arrow twin of each transform. ``bucket`` (Spark's murmur3), identity
or ``truncate`` on a source other than string, integer, boolean or date,
and time transforms on string sources have no exact twin and keep the
Spark writer. ``python_eval`` mirrors the transform in pure Python over
manifest partition values so the reader can prune files without Spark
(bucket pruning uses the same murmur3 hash Spark's ``F.hash`` uses via a
recorded value — we only prune bucket partitions on equality of the
derived value computed Spark-side at write).
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

TIME_TRANSFORMS = ("year", "month", "day", "hour")
PARAM_TRANSFORMS = ("bucket", "truncate")
ALL_TRANSFORMS = TIME_TRANSFORMS + PARAM_TRANSFORMS + ("identity", "void")

# the directory name Spark's partitionBy gives a null (or empty) value
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_FUNC_RE = re.compile(r"^\s*([A-Za-z_]+)\s*\(\s*([^)]*)\s*\)\s*$")


class PartitionError(ValueError):
    """Invalid partition transform expression."""


@dataclass(frozen=True)
class PartitionField:
    transform: str  # identity|year|month|day|hour|bucket|truncate|void
    source: str  # source column name
    param: int | None = None  # bucket count / truncate width

    @property
    def name(self) -> str:
        """Derived partition-field name (reference core/schema.py:177-186)."""
        if self.transform == "identity":
            return self.source
        if self.transform in PARAM_TRANSFORMS:
            short = "bucket" if self.transform == "bucket" else "trunc"
            return f"{self.source}_{short}_{self.param}"
        return f"{self.source}_{self.transform}"

    def to_json(self) -> dict:
        return {
            "transform": self.transform,
            "source": self.source,
            "name": self.name,
            "param": self.param,
        }

    @classmethod
    def from_json(cls, d: dict) -> PartitionField:
        return cls(transform=d["transform"], source=d["source"], param=d.get("param"))


def parse_partition_transform(expr: str) -> PartitionField:
    """Parse one transform string (reference grammar, partitioning.py:18-62)."""
    expr = expr.strip()
    if not expr:
        raise PartitionError("empty partition expression")
    m = _FUNC_RE.match(expr)
    if m is None:
        # bare column name → identity
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr):
            raise PartitionError(f"invalid partition expression: {expr!r}")
        return PartitionField("identity", expr)
    func, args_s = m.group(1).lower(), m.group(2)
    args = [a.strip() for a in args_s.split(",")] if args_s.strip() else []
    if func in TIME_TRANSFORMS + ("void",):
        if len(args) != 1 or not args[0]:
            raise PartitionError(f"{func}() takes exactly one column argument")
        return PartitionField(func, args[0])
    if func in PARAM_TRANSFORMS:
        if len(args) != 2:
            raise PartitionError(f"{func}() takes (param, column)")
        try:
            param = int(args[0])
        except ValueError as e:
            raise PartitionError(f"{func}() param must be an integer: {args[0]!r}") from e
        if param <= 0:
            raise PartitionError(f"{func}() param must be positive: {param}")
        return PartitionField(func, args[1], param)
    raise PartitionError(f"unknown transform {func!r}")


def spark_expr(field: PartitionField) -> Column:
    """Derived-column expression for the write path."""
    c = F.col(field.source)
    if field.transform == "identity":
        return c
    if field.transform == "year":
        return F.year(c)
    if field.transform == "month":
        # linear month ordinal would match Iceberg; y-m string keeps the
        # directory layout human-readable and sorts identically
        return F.date_format(c, "yyyy-MM")
    if field.transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if field.transform == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if field.transform == "bucket":
        return F.pmod(F.hash(c), F.lit(field.param))
    if field.transform == "truncate":
        # string prefix; for integral types Iceberg truncates to multiples
        return F.when(
            c.cast("string").isNotNull(), F.substring(c.cast("string"), 1, field.param)
        )
    if field.transform == "void":
        return F.lit(None).cast("string")
    raise PartitionError(f"unknown transform {field.transform}")


# strftime patterns of the string-valued time transforms (spark_expr's
# date_format patterns)
_TIME_FORMATS = {"month": "%Y-%m", "day": "%Y-%m-%d", "hour": "%Y-%m-%d-%H"}


def _as_text(t: pa.DataType) -> bool:
    """Source types whose Arrow string cast is Spark's string cast."""
    return (
        pa.types.is_string(t)
        or pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_date(t)
    )


def arrow_values(
    field: PartitionField, column: pa.Array | pa.ChunkedArray
) -> pa.Array | pa.ChunkedArray | None:
    """Arrow twin of ``spark_expr``: the partition-value strings Spark's
    ``partitionBy`` records for ``column`` (``""`` and ``HIVE_NULL``
    become null, as Spark's ``HIVE_NULL`` directory reads back), or
    ``None`` when no exact twin exists and the write must go through
    Spark."""
    t = column.type
    if field.transform == "void":
        return pa.nulls(len(column), pa.string())
    if field.transform == "identity":
        if not _as_text(t):
            return None
        values = column.cast(pa.string())
    elif field.transform in TIME_TRANSFORMS:
        if pa.types.is_date(t):
            column = column.cast(pa.timestamp("s"))
        elif not (pa.types.is_timestamp(t) and t.tz is None):
            return None
        if field.transform == "year":
            values = pc.year(column).cast(pa.string())
        else:
            # format each distinct truncated value once, not every row
            floored = pc.floor_temporal(column, unit=field.transform)
            distinct = floored.unique()
            formatted = pc.strftime(distinct, _TIME_FORMATS[field.transform])
            values = formatted.take(pc.index_in(floored, distinct))
    elif field.transform == "truncate":
        if not _as_text(t):
            return None
        values = pc.utf8_slice_codeunits(column.cast(pa.string()), 0, field.param)
    else:  # bucket: Spark's murmur3 has no Arrow kernel
        return None
    hive_null = pc.is_in(values, pa.array(["", HIVE_NULL]))
    return pc.if_else(hive_null, pa.scalar(None, pa.string()), values)


def python_eval(field: PartitionField, value):
    """Mirror of the transform for Python-side predicate→partition pruning.

    Returns the derived value, or raises ``NotImplementedError`` for
    transforms we don't prune on (bucket — Spark's murmur3 isn't
    reimplemented here).
    """
    if value is None:
        return None
    if field.transform == "identity":
        return value
    if isinstance(value, str) and field.transform in TIME_TRANSFORMS:
        value = dt.datetime.fromisoformat(value)
    if field.transform == "year":
        return value.year
    if field.transform == "month":
        return f"{value.year:04d}-{value.month:02d}"
    if field.transform == "day":
        return f"{value.year:04d}-{value.month:02d}-{value.day:02d}"
    if field.transform == "hour":
        return f"{value.year:04d}-{value.month:02d}-{value.day:02d}-{value.hour:02d}"
    if field.transform == "truncate":
        return str(value)[: field.param]
    raise NotImplementedError(f"no python eval for {field.transform}")


def validate_spec(fields: list[PartitionField], schema) -> list[str]:
    """Guard rails (reference partitioning.py:89-96, schema.py:195-201).

    Returns a list of warning strings; raises PartitionError on hard
    failures. ``schema`` is a Spark StructType.
    """
    warnings = []
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for pf in fields:
        if pf.source not in by_name:
            raise PartitionError(f"partition source column {pf.source!r} not in schema")
        dtype = by_name[pf.source]
        is_temporal = dtype in ("date", "timestamp", "timestamp_ntz")
        if pf.transform in TIME_TRANSFORMS and not is_temporal and dtype != "string":
            raise PartitionError(
                f"time transform {pf.transform}({pf.source}) requires a "
                f"date/timestamp column, got {dtype}"
            )
        if pf.transform == "identity" and is_temporal:
            warnings.append(
                f"identity partition on temporal column {pf.source!r} creates "
                "one partition per distinct value; prefer a time transform"
            )
    return warnings
