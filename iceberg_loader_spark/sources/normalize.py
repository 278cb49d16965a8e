"""Messy-dict → Arrow normalization (the reference's headline feature).

Behavior parity with ``/root/reference src/iceberg_loader/utils/arrow.py``:

* key union across all rows, first-seen order (the reference iterates a
  ``set`` union, arrow.py:49 — nondeterministic order; we pin first-seen
  order as a deliberate improvement)
* dict/list values → compact JSON strings: ``json.dumps(...,
  ensure_ascii=False, separators=(',',':'))`` (arrow.py:12, 58-59) —
  golden outputs ``'{"a":1,"b":"x"}'``, ``'[1,2,3]'``
  (tests/test_arrow_utils.py:34-43)
* empty input → 0-row, 0-column table (arrow.py:20-23,
  tests/test_arrow_utils.py:26-31)
* SCALAR TYPING — deliberate, documented divergence (SURVEY §1.2): the
  reference stringifies EVERY scalar before Arrow sees it
  (arrow.py:54-61: ``{'id': 1}`` yields ``id: string = '1'``), so every
  reference table is all-string. By default we keep per-column Arrow
  type inference (ints stay int64, bools stay bool) and stringify only
  when a column's values are not type-compatible (arrow.py:39-42's
  fallback). Pass ``stringify_scalars=True`` for byte-level reference
  parity.
* all-null columns land as string (arrow.py:65-67)
* ``create_record_batches_from_dicts`` chunks an iterator into batches of
  ``batch_size`` (default 10 000, arrow.py:137-156)
* ``cast_to_schema``: reorder to target, fill missing with NULL, cast
  safe→unsafe→NULL-column-with-warning (arrow.py:75-134)
"""

from __future__ import annotations

import json
import logging
from collections.abc import Iterable, Iterator

import pyarrow as pa

log = logging.getLogger(__name__)

_JSON = json.JSONEncoder(ensure_ascii=False, separators=(",", ":"))


def _json_encoder():
    """Compact JSON for dict and list values, byte-exact with the
    reference's ``json.dumps(..., ensure_ascii=False,
    separators=(',', ':'))`` (arrow.py:12): the C encoder
    ``JSONEncoder.encode`` builds on every call, built once. Make one per
    call and never share it between threads: its circular-reference
    markers are state."""
    make = json.encoder.c_make_encoder
    if make is None:
        return _JSON.encode
    encode = make(
        {}, _JSON.default, json.encoder.encode_basestring, None,
        _JSON.key_separator, _JSON.item_separator, False, False, True,
    )
    return lambda value: "".join(encode(value, 0))


def create_arrow_table_from_data(
    data: list[dict], stringify_scalars: bool = False
) -> pa.Table:
    """Union-of-keys dict rows → Arrow table (arrow.py:19-72).

    ``stringify_scalars=False`` (default) keeps typed inference — a
    deliberate divergence from the reference, which stringifies every
    scalar (see module docstring). ``True`` reproduces the reference's
    all-string tables exactly.
    """
    if not data:
        # reference parity: 0-row, 0-column table (arrow.py:20-23)
        return pa.Table.from_arrays([], schema=pa.schema([]))
    keys: list[str] = []
    seen = set()
    for row in data:
        for k in row:
            if k not in seen:
                seen.add(k)
                keys.append(k)
    encode = _json_encoder()
    arrays, fields = [], []
    for k in keys:
        values = [row.get(k) for row in data]
        if any(issubclass(t, (dict, list)) for t in set(map(type, values))):
            values = [encode(v) if isinstance(v, (dict, list)) else v for v in values]
        if stringify_scalars:
            # reference contract: every scalar → str (arrow.py:61)
            values = [None if v is None else str(v) for v in values]
        try:
            arr = pa.array(values)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            # mixed incompatible scalars → stringify (arrow.py:39-42)
            arr = pa.array([None if v is None else str(v) for v in values])
        if pa.types.is_null(arr.type):
            arr = arr.cast(pa.string())  # all-null → string (arrow.py:65-67)
        arrays.append(arr)
        fields.append(pa.field(k, arr.type, nullable=True))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def create_record_batches_from_dicts(
    data_iterator: Iterable[dict],
    batch_size: int = 10000,
    stringify_scalars: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Chunk dict rows into RecordBatches (arrow.py:137-156)."""
    chunk: list[dict] = []
    for row in data_iterator:
        chunk.append(row)
        if len(chunk) >= batch_size:
            tbl = create_arrow_table_from_data(chunk, stringify_scalars)
            yield from tbl.to_batches()
            chunk = []
    if chunk:
        tbl = create_arrow_table_from_data(chunk, stringify_scalars)
        yield from tbl.to_batches()


def convert_column_type(column: pa.ChunkedArray | pa.Array, target: pa.DataType):
    """safe cast → unsafe cast → NULL column + warning (arrow.py:75-102)."""
    if column.type == target:
        return column
    try:
        return column.cast(target, safe=True)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        pass
    try:
        return column.cast(target, safe=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        log.warning(
            "cast to %s failed for column of type %s; filling with NULLs",
            target,
            column.type,
        )
        return pa.nulls(len(column), type=target)


def cast_to_schema(table: pa.Table, target: pa.Schema) -> pa.Table:
    """Reorder/cast to target schema; missing columns → NULL (arrow.py:105-134)."""
    if table.schema == target:
        return table
    arrays = []
    for f in target:
        if f.name in table.column_names:
            arrays.append(convert_column_type(table.column(f.name), f.type))
        else:
            arrays.append(pa.nulls(table.num_rows, type=f.type))
    return pa.Table.from_arrays(
        [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays],
        schema=target,
    )
