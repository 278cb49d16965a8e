"""The Table handle: scans, write strategies, commit loop.

Spark-first execution shape:

* **Scan** — the reader hands Spark an explicit parquet file list plus the
  table schema; Catalyst keeps its vectorized reader, filter pushdown and
  row-group pruning. File-level pruning happens before Spark ever sees the
  plan, from manifest partition values + min/max stats (metadata-only, no
  listing). A filtered scan of few pruned bytes that keeps few rows is
  read on the driver instead (``_read_arrow``) and handed to Spark as a
  local relation, so a point or small range read runs no parquet job.
* **Append** — executors write parquet into a fresh per-commit directory
  (`new_data_dir()`: `data/<uuid>/…`, optionally `partitionBy` the derived
  transform columns); the driver then reads ONLY footers to build manifest
  entries (`data_file_entry`) and commits one snapshot. O(new files)
  driver work, like Iceberg. An Arrow table (a loader flush of one
  target file) is written on the driver instead, in the same layout,
  when that reproduces Spark's files exactly (`_write_arrow_files`).
* **Delete / Merge** — copy-on-write at file granularity: candidate files
  are chosen from metadata (partition/stats for DELETE; for MERGE, the
  source keys' min/max and bloom probes against each file's stats, then
  a key semi-join), only those are rewritten; every other file carries
  over by reference. At 100 TB this is the difference between rewriting
  a partition and rewriting a table. An Arrow-table merge source whose
  candidates' decoded rows and its own fit ``DRIVER_MERGE_BYTES`` is
  merged on the driver in Arrow and written by the Arrow writer
  (``_merge_rows_arrow``); small CoW deletes and compactions are
  rewritten on the driver the same way (``_rewrite_rows_arrow``), all
  reading through ``_read_arrow``, the pyarrow twin of the
  merge-on-read scan.

Reference parity: write modes and their semantics mirror
``/root/reference src/iceberg_loader/core/strategies.py:28-99``; the
result dict mirrors ``core/loader.py:250-258``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import unicodedata
import urllib.parse
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import replace
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from iceberg_loader_spark.sources.tables import ensure_compat
from iceberg_loader_spark.tables import bloom as bloom_mod
from iceberg_loader_spark.tables.filters import (
    parse_filter,
    prune_files,
    pushable_float_term,
    spark_order,
    split_delete_candidates,
    split_terms,
    to_arrow_expr,
    to_spark_sql,
)
from iceberg_loader_spark.tables.format import (
    DATA_DIR,
    DEFAULT_TABLE_PROPERTIES,
    CommitConflict,
    ConcurrentModification,
    DataFile,
    Snapshot,
    TableMetadata,
    new_snapshot,
)
from iceberg_loader_spark.tables.partitioning import (
    HIVE_NULL,
    PartitionField,
    arrow_values,
    spark_expr,
    validate_spec,
)


# in-memory Arrow bytes per output data file: an Arrow table of at most
# this much is written as one file per partition value (on the driver
# when the Arrow writer can), a larger one in that many Spark partitions
TARGET_FILE_BYTES = 128 * 1024 * 1024

# the most decoded Arrow bytes a rewrite reads on the driver (a CoW
# merge's candidate rows plus its source, a CoW delete's candidates, a
# compaction's input); past it the rewrite runs in Spark. The bound is
# on driver memory, not speed: the driver's merge peaks at about 5.5
# times its decoded bytes in Arrow memory (the reads, their
# concatenation, the output and the writer's buffers), and on 4 cores
# it still beat the Spark merge at 180 MB decoded.
DRIVER_MERGE_BYTES = 64 * 1024 * 1024

# a filtered scan reads on the driver only within bounds measured on 4
# cores to cost no more CPU than the parquet job it saves (rows of a
# long, a double and a 17-character string; rows of 12 columns, 211
# bytes). It reads at most DRIVER_SCAN_READ_BYTES of pruned files, on
# disk and decoded, before it knows what the filter keeps: a scan that
# then goes to Spark has wasted that read, about 6 ms of CPU per decoded
# MiB. It keeps the rows on the driver when they come to at most
# DRIVER_SCAN_KEPT_BYTES in Arrow: counting them as a local relation
# cost as much as the parquet job at about 200 KB (5,000 narrow or 1,000
# wide rows) and four times as much at 100,000 narrow rows.
#
# A scan whose pruned files total at most DRIVER_SCAN_READ_BYTES on disk
# is one Spark task (coalesce(1)), and so is a driver scan of more than
# one row: a count or aggregate on top then plans no Exchange and runs
# as one job of one task, not AQE's two jobs of defaultParallelism + 1
# tasks. Measured on 4 cores (process-tree CPU / wall, median of 7, rows
# of a long, a timestamp, two strings and a double): an aggregate over
# 1, 8 and 32 files was 130/140/140 -> 110/100/100 ms CPU at 1 MiB, wall
# flat or lower; at 2 MiB over 32 files its wall rose 125 -> 155 ms and
# at 4 MiB its CPU was flat and its wall rose on 8 and 32 files. A
# `count` over a 1,000-row driver scan was 130 -> 90 ms CPU; a `collect`
# of it gains a job (flat at 1,000 rows, +20 ms at 3,000), so a one-row
# frame, whose collect runs no job, is left as it is.
DRIVER_SCAN_READ_BYTES = 1024 * 1024
DRIVER_SCAN_KEPT_BYTES = 128 * 1024
_ONE_TASK_SCANS = True


@contextmanager
def partitioned_scans() -> Iterator[None]:
    """Within the block, ``Table.scan`` keeps its input's partitioning
    whatever the input's size. The seam for plan fingerprints, which
    record a plan's shape at scale, where no scan is one task."""
    global _ONE_TASK_SCANS
    prev, _ONE_TASK_SCANS = _ONE_TASK_SCANS, False
    try:
        yield
    finally:
        _ONE_TASK_SCANS = prev


def _delete_ops(snap: Snapshot) -> list[dict]:
    """A snapshot's pending merge-on-read deletes as ``_op_applies`` ops,
    oldest first. Entries from delete_files default to equality;
    positional delete ops carry their own "kind": "pos" marker, which
    ``**d`` preserves."""
    ops = [{"kind": "pred", **p} for p in snap.delete_predicates] + [
        {"kind": "eq", **d} for d in snap.delete_files
    ]
    ops.sort(key=lambda o: o["sequence"])
    return ops


def _op_applies(f: DataFile, o: dict, root: str | None = None) -> bool:
    """Does a merge-on-read delete op apply to this data file?

    Sequence rule first (a delete only covers strictly older files).
    A positional delete without a "paths" list is checked on the file's
    lineage path, which needs the table ``root``; without it the op
    applies.
    For equality-delete files carrying key min/max stats, a file whose
    own footer stats are provably DISJOINT from the delete's key range
    skips the anti-join entirely — the same metadata pruning Iceberg's
    delete-file index does, turning "every old file pays the anti-join"
    into "only key-range-overlapping files do".
    """
    if f.sequence >= o["sequence"]:
        return False
    if o["kind"] == "pos":
        # A positional delete covers exactly the data files whose rows it
        # names. "paths" is the exact referenced set when small; past the
        # cap, the delete file's own footer stats on file_path give a
        # lexical range check on the lineage paths its rows hold (delete
        # files sort by path at write).
        paths = o.get("paths")
        if paths is not None:
            return f.path in set(paths)
        ps = (o.get("stats") or {}).get("file_path")
        if ps and ps[0] is not None and root is not None:
            return ps[0] <= _lineage_path(root, f) <= ps[1]
        return True
    if o["kind"] != "eq":
        return True
    dstats = o.get("stats") or {}
    for c in o["equality_cols"]:
        fs = f.stats.get(c)
        ds = dstats.get(c)
        if fs and ds and fs[0] is not None and ds[0] is not None:
            try:
                if fs[1] < ds[0] or fs[0] > ds[1]:
                    return False  # ranges disjoint on this key column
            except TypeError:
                pass  # cross-type comparison — assume overlap
    # Second tier: bloom probe (tables/bloom.py). When ranges overlap
    # (interleaved id-like keys — the common case where range pruning is
    # useless) but the file carries a key bloom and the delete op carries
    # per-key probe hashes over the SAME key tuple, the file is skipped
    # iff no delete key can be present. False positives only cost an
    # anti-join that deletes nothing — never correctness.
    probe = o.get("probe")
    fb = f.bloom
    if (
        probe
        and fb
        and fb.get("keys") == list(o["equality_cols"])
        and fb.get("m") == bloom_mod.BLOOM_M
        and fb.get("k") == bloom_mod.BLOOM_K
    ):
        if not bloom_mod.bloom_may_contain_any(fb["b64"], probe):
            return False
    return True


# Row-lineage helper columns for positional deletes: the file a row came
# from (table-relative, re-derived from _metadata.file_path with the same
# deterministic extraction the delete writer used) and its raw row index
# within that file. Reserved names — never part of a table schema.
_LINEAGE_FILE = "__ils_file"
_LINEAGE_POS = "__ils_pos"
# Both writers (the engine's and the sparkberg connector's) put data files
# under new_data_dir(), <root>/data/<32-hex-uuid>/; extracting that suffix
# is deterministic per absolute path, so writer and reader agree. The
# optional prefix matches the directories older connector writes used.
_LINEAGE_RE = rf"({DATA_DIR}/(?:ds-)?[0-9a-f]{{32}}/.*)$"


def new_data_dir() -> str:
    """Root-relative directory for one write's new data files."""
    return f"{DATA_DIR}/{uuid.uuid4().hex}"


def _kept_by(where: str):
    """The rows a delete predicate is false or null on, as a coalesce
    Spark keeps from the parquet reader: its row-group filter trusts
    pyarrow's float bounds, which leave NaN out."""
    return F.coalesce(~F.expr(to_spark_sql(where)), F.lit(True))


_FLOATS = (T.FloatType, T.DoubleType)


def _matched_by(where: str, schema: T.StructType):
    """The rows a scan filter is true on. Its terms on a float column
    that ``pushable_float_term`` rejects are each a
    ``coalesce(term, false)``, which Spark keeps from the parquet
    reader, as ``_kept_by`` does; the other terms are pushed down. A
    filter outside the term grammar (one on a nested field among them)
    is one term, kept back when a float is anywhere in ``schema``."""
    try:
        parse_filter(where)
        terms = split_terms(where)
    except ValueError:
        term = F.expr(to_spark_sql(where))
        return F.coalesce(term, F.lit(False)) if _has(schema, _FLOATS) else term
    floats = {f.name.lower() for f in schema.fields if isinstance(f.dataType, _FLOATS)}
    out = None
    for col, op, lit in terms:
        term = F.expr(to_spark_sql(f"{col} {op} {lit}"))
        if col.lower() in floats and not pushable_float_term(op, lit):
            term = F.coalesce(term, F.lit(False))
        out = term if out is None else out & term
    return out


def _with_lineage(df: DataFrame) -> DataFrame:
    return df.withColumn(
        _LINEAGE_FILE,
        F.regexp_extract(F.col("_metadata.file_path"), _LINEAGE_RE, 1),
    ).withColumn(_LINEAGE_POS, F.col("_metadata.row_index"))


_POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType()),
        T.StructField("pos", T.LongType()),
    ]
)
_POS_DELETE_ARROW = to_arrow_schema(_POS_DELETE_SCHEMA)


def _stamp_sequence(entries, version: int) -> None:
    """Set the data sequence number on freshly written manifest entries.

    Runs inside each commit's ``build`` so a conflict retry re-stamps
    with the rebased version — the sequence is the version the files
    actually commit at, which is what merge-on-read delete applicability
    is defined against.
    """
    for e in entries:
        e.sequence = version


def _eq_delete_ops(
    key_entries: list[DataFile],
    key_cols: list[str],
    version: int,
    probes: dict[str, list[list[int]]],
) -> list[dict]:
    """Equality-delete records for freshly written key files, at the
    sequence ``version`` they commit at; ``probes`` is
    ``Table._key_probe_hashes`` of the same files."""
    return [
        {
            "path": e.path,
            "equality_cols": list(key_cols),
            "sequence": version,
            "rows": e.rows,
            "bytes": e.bytes,
            # key min/max from the parquet footer: lets readers skip
            # the anti-join for key-range-disjoint files
            "stats": {
                c: e.stats[c] for c in key_cols if e.stats.get(c) is not None
            },
            **({"probe": probes[e.path]} if e.path in probes else {}),
        }
        for e in key_entries
    ]


#: max referenced data paths stored on a positional delete op
_POS_PATHS_CAP = 1000


def _pos_delete_ops(
    entries: list[DataFile], sequence: int, ref_paths: dict[str, str] | None
) -> list[dict]:
    """Positional-delete records for freshly written (file_path, pos)
    files, at the sequence they apply below. ``ref_paths`` maps the
    lineage path (``_lineage_path``, what a delete row names) of each
    data file the deletes may reference to its table path, or is None
    when that set is unknown. A record's "paths" is that set narrowed to
    its file's own file_path footer range, when non-empty and within
    ``_POS_PATHS_CAP``; over-inclusion only costs a no-op anti-join."""
    ops = []
    for e in entries:
        stats = {
            c: e.stats[c] for c in ("file_path", "pos") if e.stats.get(c) is not None
        }
        op = {
            "path": e.path,
            "kind": "pos",
            "sequence": sequence,
            "rows": e.rows,
            "bytes": e.bytes,
            "stats": stats,
        }
        if ref_paths is not None:
            lo, hi = stats.get("file_path", [None, None])
            paths = [
                p for lin, p in ref_paths.items() if lo is None or lo <= lin <= hi
            ]
            if 0 < len(paths) <= _POS_PATHS_CAP:
                op["paths"] = paths
        ops.append(op)
    return ops


# ---- what a write derives from the head snapshot it resolved once --------


def _schema(snap: Snapshot) -> T.StructType:
    return T.StructType.fromJson(snap.schema_json)


def _spec(snap: Snapshot) -> list[PartitionField]:
    return [PartitionField.from_json(d) for d in snap.partition_spec]


def _codec(snap: Snapshot) -> str:
    return snap.properties.get(
        "write.parquet.compression-codec",
        DEFAULT_TABLE_PROPERTIES["write.parquet.compression-codec"],
    )


# Spark's parquet codec names -> pyarrow's. pyarrow has no lzo writer,
# and its "lz4" writes LZ4_RAW.
_PYARROW_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "brotli": "brotli",
    "lz4": "lz4",
    "lz4_raw": "lz4",
    "zstd": "zstd",
}


def _pyarrow_codec(codec: str) -> str | None:
    """pyarrow's name for a ``write.parquet.compression-codec`` value,
    or None when this pyarrow build cannot write it."""
    name = _PYARROW_CODECS.get(codec.lower())
    if name is None or (name != "none" and not pa.Codec.is_available(name)):
        return None
    return name


def _column_property(snap: Snapshot, key: str) -> list[str] | None:
    """A comma-separated column-list table property, checked against the
    snapshot's schema."""
    raw = snap.properties.get(key)
    if not raw:
        return None
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    names = set(_schema(snap).names)
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise ValueError(f"{key} references unknown columns: {unknown}")
    return cols or None


def _sort_order(snap: Snapshot) -> list[str] | None:
    """Iceberg's write sort order (``write.sort-order`` property): every
    data write sorts rows by these columns WITHIN each output task,
    giving tight per-file min/max ranges on the sort columns from the
    first append — the standing version of the one-shot
    `rewrite_data_files(sort_by=...)`."""
    return _column_property(snap, "write.sort-order")


def _bloom_keys(snap: Snapshot) -> list[str] | None:
    """``write.bloom.keys`` property: every data write also records a
    per-file bloom filter over this key tuple, enabling equality-delete
    file skipping when key RANGES overlap but key SETS don't
    (tables/bloom.py)."""
    return _column_property(snap, "write.bloom.keys")


# Operations that change bytes or metadata but never rows: the append-log
# walk (Table.appended_files) and the changelog (Table.changes) skip them.
ROW_PRESERVING_OPS = frozenset(
    {
        "create",
        "replace",
        "evolve-schema",
        "evolve-partition",
        "set-ref",
        "convert-eq-deletes",
        "rewrite-deletes",
    }
)


# ---- commit builders shared by Table and the sparkberg connector --------


def _append_build(
    entries: list[DataFile], extra_properties: dict[str, str] | None = None
):
    """``build(parent)`` for an append of freshly written ``entries``;
    ``extra_properties`` are merged into the table properties in the
    same snapshot as the rows."""
    added_rows = sum(e.rows for e in entries)

    def build(parent: Snapshot) -> Snapshot:
        _stamp_sequence(entries, parent.version + 1)
        return new_snapshot(
            parent,
            "append",
            parent.schema_json,
            parent.partition_spec,
            parent.files + entries,
            {**parent.properties, **(extra_properties or {})},
            {
                "added-files": len(entries),
                "added-records": added_rows,
                "total-records": parent.total_rows + added_rows,
            },
        )

    return build


def _overwrite_build(entries: list[DataFile]):
    """``build(parent)`` replacing every row of the table with ``entries``."""
    added_rows = sum(e.rows for e in entries)

    def build(parent: Snapshot) -> Snapshot:
        _stamp_sequence(entries, parent.version + 1)
        return new_snapshot(
            parent,
            "overwrite",
            parent.schema_json,
            parent.partition_spec,
            entries,
            parent.properties,
            {
                "added-files": len(entries),
                "added-records": added_rows,
                "removed-files": len(parent.files),
                "total-records": added_rows,
            },
            delete_predicates=[],  # every pre-existing row is gone
            delete_files=[],
        )

    return build


def _marked_append_build(
    entries: list[DataFile], marker_prop: str, batch_id: int
):
    """``build(parent)`` for an exactly-once sink: append ``entries``
    with ``marker_prop = batch_id`` in the same snapshot, unless the
    commit parent's marker already covers ``batch_id`` — then the batch
    is a replay and the build raises :class:`_NothingToCommit`. The
    check runs on every attempt's parent, so a replay that commits
    between this writer's attempts is caught by the retry."""
    append = _append_build(entries, {marker_prop: str(batch_id)})

    def build(parent: Snapshot) -> Snapshot:
        if int(parent.properties.get(marker_prop, "-1")) >= batch_id:
            raise _NothingToCommit(parent)
        return append(parent)

    return build


def _stat_value(v):
    """Parquet footer stat → JSON-encodable, comparison-stable value."""
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, bytes):
        return None
    if isinstance(v, (int, float, bool, str)):
        return v
    return None


# below this many written files a footer-read Spark job costs more than
# the driver-side reads it replaces (Table._collect_entries)
_MANIFEST_DISTRIBUTE_MIN = 16


def nan_columns(rows) -> set[str]:
    """The float columns of ``rows`` (a table or batch) holding a NaN."""
    return {
        name
        for name, col in zip(rows.schema.names, rows.columns)
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py()
    }


def data_file_entry(
    md: pq.FileMetaData,
    rel_path: str,
    size: int,
    partition: dict | None = None,
    nan_cols: set[str] = frozenset(),
) -> DataFile:
    """One written parquet file's metadata -> its manifest entry: row
    count, byte size, and the per-column min/max fold across row groups
    (a single chunk without usable stats poisons that column — a partial
    range would wrongly prune files). ``md`` is either a footer read
    (``entry_from_footer``) or the metadata the pyarrow writer returns on
    close (the sparkberg connector's tasks), so manifest stats are
    identical regardless of which writer produced the file. pyarrow
    leaves NaN out of a float column's max; parquet-mr, Spark's writer,
    records it there, where Spark orders it, and so does the entry for
    each of ``nan_cols`` (``nan_columns`` of the rows)."""
    stats: dict[str, list] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if "." in name:  # nested — no stats
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                stats[name] = None  # a chunk without stats → unusable
                continue
            try:
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            except pa.ArrowNotImplementedError:  # a decimal stored as an integer
                lo = hi = None
            if lo is None or hi is None:
                stats[name] = None
                continue
            prev = stats.get(name)
            if prev is None and name in stats:
                continue
            if prev is None:
                stats[name] = [lo, hi]
            else:
                stats[name] = [
                    min(prev[0], lo, key=spark_order),
                    max(prev[1], hi, key=spark_order),
                ]
    return DataFile(
        path=rel_path.replace(os.sep, "/"),
        rows=md.num_rows,
        bytes=size,
        partition=partition or {},
        stats={
            k: [v[0], float("nan")] if k in nan_cols else v
            for k, v in stats.items()
            if v is not None
        },
    )


def entry_from_footer(
    abs_path: str, rel_path: str, partition: dict | None = None
) -> DataFile:
    """Footer-read ONE written parquet file into its manifest entry. The
    float columns of a file parquet-mr did not write are read for NaN."""
    f = pq.ParquetFile(abs_path)
    nan_cols = set()
    if not f.metadata.created_by.startswith("parquet-mr"):
        floats = [c.name for c in f.schema_arrow if pa.types.is_floating(c.type)]
        nan_cols = nan_columns(f.read(columns=floats))
    return data_file_entry(
        f.metadata, rel_path, os.path.getsize(abs_path), partition, nan_cols
    )


def discard_files(root: str, paths) -> int:
    """Best-effort removal of files no commit references (a skipped
    replay's or a refused write's output, expired or aborted files);
    returns how many were removed."""
    removed = 0
    for rel in paths:
        try:
            os.unlink(os.path.join(root, rel))
            removed += 1
        except OSError:
            pass
    return removed


def live_paths(snaps) -> set[str]:
    """Every data and delete file path the snapshots reference."""
    return {f.path for s in snaps for f in s.files} | {
        d["path"] for s in snaps for d in s.delete_files
    }


def _dictionary_columns(rows) -> list[str]:
    """Leaf column paths of ``rows`` (a table or batch) worth dictionary
    encoding: at most one distinct value per two values. parquet-mr
    falls back to PLAIN above that; dictionary-encoding every column made
    pyarrow's files 20-42 % larger than Spark's."""
    out: list[str] = []

    def walk(path: str, values) -> None:
        t = values.type
        if pa.types.is_struct(t):
            for f, child in zip(t, values.flatten()):
                walk(f"{path}.{f.name}", child)
        elif pa.types.is_map(t):
            walk(f"{path}.key_value.key", values.keys)
            walk(f"{path}.key_value.value", values.items)
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(f"{path}.list.element", values.flatten())
        elif 2 * pc.count_distinct(values).as_py() <= len(values):
            out.append(path)

    for name, col in zip(rows.schema.names, rows.columns):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        walk(name, col)
    return out


def open_parquet_writer(path: str, sample, codec: str) -> pq.ParquetWriter:
    """The one pyarrow data-file writer (the driver's Arrow writer and
    the sparkberg connector's tasks): ``codec`` is the table's Spark
    codec name, written at parquet-mr's level, the dictionary rule is
    applied to ``sample`` (the rows, or a streaming writer's first
    batch), and no Arrow schema is embedded in the footer."""
    compression = _pyarrow_codec(codec)
    if compression is None:
        raise ValueError(
            f"write.parquet.compression-codec {codec!r} has no pyarrow writer"
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return pq.ParquetWriter(
        path,
        sample.schema,
        compression=compression,
        # parquet-mr's zstd level: pyarrow's default 1 wrote a compacted
        # day(ts) table 6 % larger than Spark's files (gzip's defaults
        # write within 1 % of each other)
        compression_level=3 if compression == "zstd" else None,
        use_dictionary=_dictionary_columns(sample),
        store_schema=False,
    )


# characters Spark's partitionBy escapes in a directory name (Hive's
# escapePathName); every other character is kept as is
_PATH_ESCAPES = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)


def _escape_path_name(value: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in value)


def _float_bounds(entry: DataFile, rows: pa.Table) -> None:
    """Give float columns the bounds parquet-mr, Spark's writer, records:
    the values it saw, -0.0 below +0.0. parquet C++ widens a zero lower
    bound to -0.0 and a zero upper bound to +0.0, and leaves an
    all-infinite column's bound at the largest finite value."""
    for name, bounds in entry.stats.items():
        col = rows[name]
        if not pa.types.is_floating(col.type):
            continue
        lo_hi = pc.min_max(col)
        bounds[:] = [lo_hi["min"].as_py(), lo_hi["max"].as_py()]
        if 0 not in bounds:
            continue
        signs = pc.divide(1.0, pc.filter(col, pc.equal(col, 0.0)))
        if bounds[0] == 0:
            bounds[0] = -0.0 if pc.any(pc.less(signs, 0)).as_py() else 0.0
        if bounds[1] == 0:
            bounds[1] = 0.0 if pc.any(pc.greater(signs, 0)).as_py() else -0.0


def _local_frame(spark: SparkSession, rows: pa.Table, schema: T.StructType) -> DataFrame:
    """An Arrow table in the table ``schema`` as a DataFrame over a local
    relation. Empty record batches are dropped first: PySpark's
    ``createDataFrame`` stops at an empty batch that is not the first,
    so batches [2, 0, 1] gave 2 rows."""
    batches = [b for b in rows.to_batches() if b.num_rows]
    return spark.createDataFrame(pa.Table.from_batches(batches, rows.schema), schema=schema)


def _arrow_to_spark(rows: pa.Table, schema: T.StructType) -> DataFrame:
    """An Arrow table in the table ``schema`` as a DataFrame of one
    partition per ``TARGET_FILE_BYTES`` of its in-memory bytes."""
    spark = SparkSession.builder.getOrCreate()
    parts = max(1, -(-rows.nbytes // TARGET_FILE_BYTES))
    return _local_frame(spark, rows, schema).coalesce(parts)


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and map value nullable: the schema
    Spark's parquet scan gives a table schema."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _has(t: T.DataType, leaf) -> bool:
    """Whether ``t`` is, or holds at any depth, a type in ``leaf``."""
    if isinstance(t, T.StructType):
        return any(_has(f.dataType, leaf) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return _has(t.elementType, leaf)
    if isinstance(t, T.MapType):
        return _has(t.keyType, leaf) or _has(t.valueType, leaf)
    return isinstance(t, leaf)


def _arrow_partition_values(
    rows: pa.Table,
    snap: Snapshot,
    spec: list[PartitionField],
    sort_within: list[str] | None,
) -> list | None:
    """Each ``spec`` field's partition values when the driver's Arrow writer
    reproduces the Spark writer's files exactly (same rows, partition
    values, per-file stats and row order), else None. Not reproducible:
    an empty table, a codec pyarrow cannot write, a UTC timestamp column
    anywhere in the schema (Spark writes INT96 without stats), a NaN in a
    float column (parquet-mr records NaN as a bound), a ``void`` field
    under a ``sort_within`` sort (Spark's planner folds the constant
    partition column and its write loses the sort), and a transform
    without an Arrow twin (``arrow_values``)."""
    if (
        rows.num_rows == 0
        or _pyarrow_codec(_codec(snap)) is None
        or _has(_schema(snap), T.TimestampType)
        or (sort_within and any(pf.transform == "void" for pf in spec))
    ):
        return None
    for col in rows.columns:
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
            return None
    values = [arrow_values(pf, rows[pf.source]) for pf in spec]
    return None if any(v is None for v in values) else values


def _null_safe_equal(a, b) -> pa.BooleanArray:
    """Row-wise ``a <=> b``: two nulls are equal, a null and a value not."""
    return pc.or_(
        pc.and_(pc.is_null(a), pc.is_null(b)),
        pc.fill_null(pc.equal(a, b), False),
    )


def _has_equal_kernel(t: pa.DataType) -> bool:
    try:
        pc.equal(pa.nulls(0, t), pa.nulls(0, t))
    except pa.ArrowNotImplementedError:
        return False
    return True


def _arrow_keys(schema: pa.Schema, join_cols: list[str]) -> bool:
    """Can Arrow group and join on these key columns as Spark does?
    Not for nested types, nor floats (Spark's join and distinct count
    -0.0 and 0.0 as one key, Arrow's hash as two)."""
    return all(
        _has_equal_kernel(t) and not pa.types.is_floating(t)
        for t in (schema.field(c).type for c in join_cols)
    )


def _check_unique_keys(source: pa.Table, join_cols: list[str]) -> None:
    """The upsert source's duplicate-key check. Null keys form one
    group, as in Spark's ``count_distinct(struct(...))``, so two rows
    with the same null key are a duplicate."""
    if source.group_by(join_cols).aggregate([]).num_rows != source.num_rows:
        raise ValueError(f"duplicate join keys in upsert source on {join_cols}")


def _count_unique_keys(source: DataFrame, join_cols: list[str]) -> int:
    """Spark's twin of ``_check_unique_keys``, which returns the source's
    row count: one aggregate counts the rows and the distinct key
    structs (a struct of null fields is itself non-null, so null keys
    still count)."""
    n, n_keys = source.agg(
        F.count("*"), F.count_distinct(F.struct(*[F.col(c) for c in join_cols]))
    ).first()
    if n != n_keys:
        raise ValueError(f"duplicate join keys in upsert source on {join_cols}")
    return n


def _key_range_op(source: pa.Table, join_cols: list[str], snap: Snapshot):
    """A synthetic equality-delete op over the source's keys, so that
    ``_op_applies`` keeps only the files that may hold one: the keys'
    min/max in the manifest's stat encoding, plus bloom probes when
    ``write.bloom.keys`` is the join key. None when every source row has
    a null key (a null key never matches)."""
    keys = source.select(join_cols).drop_null()
    if keys.num_rows == 0:
        return None
    stats = {}
    for c in join_cols:
        lo_hi = pc.min_max(keys[c])
        lo, hi = _stat_value(lo_hi["min"].as_py()), _stat_value(lo_hi["max"].as_py())
        if lo is not None and hi is not None:
            stats[c] = [lo, hi]
    op = {
        "kind": "eq",
        "sequence": float("inf"),  # above every file's
        "equality_cols": list(join_cols),
        "stats": stats,
    }
    if _bloom_keys(snap) == list(join_cols):
        op["probe"] = bloom_mod.probe_hashes_for_keys(keys)
    return op


def _read_columns(path: str, schema: pa.Schema) -> pa.Table:
    """A parquet file's ``schema`` columns read by pyarrow: cast to their
    current type, columns added after the file was written filled with
    nulls, as the scan does."""
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    rows = pf.read(columns=[n for n in schema.names if n in present])
    return pa.table(
        [
            rows[fld.name].cast(fld.type)
            if fld.name in present
            else pa.nulls(pf.metadata.num_rows, fld.type)
            for fld in schema
        ],
        schema=schema,
    )


def _indexed(rows: pa.Table, keys: list[str], name: str) -> pa.Table:
    """``rows``' key columns plus their row index as column ``name``:
    what the driver joins (Acero rejects list payload columns)."""
    index = pa.array(np.arange(rows.num_rows, dtype=np.int64))
    return rows.select(keys).append_column(name, index)


def _read_arrow_file(root: str, f: DataFile, schema: pa.Schema) -> pa.Table:
    """One data file read by pyarrow in the table's ``schema``."""
    return _read_columns(os.path.join(root, f.path), schema)


# characters java.net.URI keeps in a path: Spark's _metadata.file_path
# percent-encodes every other ASCII character (a Hive-escaped "%3A"
# reads back as "%253A") and keeps non-ASCII ones that are neither
# spaces nor controls
_URI_PATH_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.!~*'();:@&=+$,/"
)


def _lineage_path(root: str, f: DataFile) -> str:
    """``_with_lineage``'s file column for ``f``: ``_LINEAGE_RE``'s match
    in the file URI Spark reports, or "" when the pattern does not
    match."""
    uri = "file:" + "".join(
        c
        if c in _URI_PATH_CHARS
        or (ord(c) > 127 and unicodedata.category(c) not in ("Zs", "Zl", "Zp", "Cc"))
        else "".join(f"%{b:02X}" for b in c.encode())
        for c in os.path.abspath(os.path.join(root, f.path))
    )
    m = re.search(_LINEAGE_RE, uri)
    return m.group(1) if m else ""


class _NothingToCommit(Exception):
    """Raised inside a commit ``build`` closure when, after a rebase, the
    refreshed parent already contains the requested change (e.g. a
    concurrent writer added the same columns) — unwinds the retry loop
    without committing a duplicate snapshot."""

    def __init__(self, snapshot: Snapshot):
        super().__init__("change already present on refreshed parent")
        self.snapshot = snapshot


class Table:
    """One snapshot-versioned table under a Warehouse."""

    def __init__(self, warehouse, identifier: str):
        self.warehouse = warehouse
        self.identifier = identifier
        self.root = warehouse.table_root(identifier)
        self.meta = warehouse.metadata(identifier)

    # ---- creation --------------------------------------------------------

    @classmethod
    def create(
        cls,
        warehouse,
        identifier: str,
        schema: T.StructType,
        partition_spec: list[PartitionField] | None = None,
        properties: dict[str, str] | None = None,
    ) -> Table:
        t = cls(warehouse, identifier)
        if t.meta.exists():
            raise FileExistsError(f"table {identifier} already exists")
        # ensure the root exists even before the first data write, so
        # namespace listings see empty tables regardless of backend
        os.makedirs(t.root, exist_ok=True)
        spec = partition_spec or []
        try:
            warnings = validate_spec(spec, schema)
            for w in warnings:
                import logging

                logging.getLogger(__name__).warning("%s: %s", identifier, w)
        except Exception:
            # reference behavior: fall back to unpartitioned on a bad spec
            # (core/schema.py:169-175) — config-level validation catches
            # user errors earlier, this guards races against schema drift
            spec = []
        props = dict(DEFAULT_TABLE_PROPERTIES)
        props.update(properties or {})
        snap = new_snapshot(
            parent=None,
            operation="create",
            schema_json=schema.jsonValue(),
            partition_spec=[pf.to_json() for pf in spec],
            files=[],
            properties=props,
            summary={"total-records": 0},
        )
        t.meta.commit(snap, expected_parent=None)
        return t

    # ---- metadata accessors ---------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        return self.meta.load_snapshot(version)

    def schema(self, version: int | None = None) -> T.StructType:
        return _schema(self.snapshot(version))

    def partition_spec(self) -> list[PartitionField]:
        return _spec(self.snapshot())

    def properties(self) -> dict[str, str]:
        return self.snapshot().properties

    def history(self) -> list[Snapshot]:
        return self.meta.snapshots()

    # ---- scan ------------------------------------------------------------

    def scan(
        self,
        spark: SparkSession,
        where: str | None = None,
        version: int | None = None,
        as_of_timestamp_ms: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read a snapshot as a DataFrame, with metadata file pruning.

        ``where`` is optional; when given it is BOTH used to drop files
        whose metadata proves they can't match AND applied as a row filter
        (so semantics never depend on pruning quality). A filtered scan
        is read on the driver when ``to_arrow_expr`` gives the filter a
        twin, ``_read_arrow`` reads the pruned files within
        ``DRIVER_SCAN_READ_BYTES`` and the rows the twin keeps fit
        ``DRIVER_SCAN_KEPT_BYTES``; every other scan is a lazy parquet
        scan. A scan of pruned files within ``DRIVER_SCAN_READ_BYTES``,
        and a driver scan of more than one row, is one partition, so an
        aggregate on top needs no shuffle.
        ``tag`` reads the snapshot a named tag points at; at most one of
        ``version``, ``tag`` and ``as_of_timestamp_ms`` may be given.
        """
        ensure_compat(spark)
        snap = self.resolve_ref(version, tag, as_of_timestamp_ms)
        files, _ = prune_files(where, snap.files, _spec(snap))
        schema = _schema(snap)
        if where:
            e = to_arrow_expr(where, to_arrow_schema(schema))
            rows = None if e is None else self._read_arrow(files, snap, DRIVER_SCAN_READ_BYTES)
            rows = None if rows is None else rows.filter(e)
            if rows is not None and rows.nbytes <= DRIVER_SCAN_KEPT_BYTES:
                df = _local_frame(spark, rows, _nullable(schema))
                one_task = _ONE_TASK_SCANS and rows.num_rows > 1
                return df.coalesce(1) if one_task else df
        df = self._read_files_mor(spark, files, schema, _delete_ops(snap))
        if where:
            df = df.filter(_matched_by(where, schema))
        if _ONE_TASK_SCANS and files and sum(f.bytes for f in files) <= DRIVER_SCAN_READ_BYTES:
            df = df.coalesce(1)
        return df

    def resolve_ref(
        self,
        version: int | None = None,
        tag: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> Snapshot:
        """The snapshot a read selects: a version, a tag, the one current
        at a timestamp, or the head when none is given."""
        if sum(x is not None for x in (version, tag, as_of_timestamp_ms)) > 1:
            raise ValueError(
                "version, tag and as-of timestamp are mutually exclusive"
            )
        if tag is not None:
            return self.snapshot(self.resolve_tag(tag))
        if as_of_timestamp_ms is not None:
            return self.meta.snapshot_as_of(as_of_timestamp_ms)
        return self.snapshot(version)

    def _read_files_mor(
        self,
        spark: SparkSession,
        files: list[DataFile],
        schema: T.StructType,
        ops: list[dict],
        with_lineage: bool = False,
    ) -> DataFrame:
        """Read data files with the merge-on-read delete ``ops``
        (``_delete_ops``) applied — predicate deletes (row filters),
        equality-delete files (anti-joins on key columns, Iceberg v2's
        delete-file shape) and positional ones (``_by_delete``).

        A delete applies to files whose sequence is LOWER than its own,
        so files group by "era": with deletes sorted by sequence, each
        file's applicable set is a suffix of the list — one parquet read
        per era with its filters/anti-joins, unioned. Time travel is
        automatic (callers pass the target snapshot's ops).

        Scale: predicate deletes are ordinary Catalyst filters pushed
        into the era's parquet scan (no shuffle); an equality-delete
        anti-join shuffles only (key, —) pairs and broadcasts when the
        key file is small — exactly the read-time cost Iceberg v2 pays.
        Compaction (`rewrite_data_files`) materializes + clears both
        kinds so neither list grows unboundedly."""
        if not files:
            df = spark.createDataFrame([], schema)
            if with_lineage:
                df = df.withColumn(
                    _LINEAGE_FILE, F.lit(None).cast("string")
                ).withColumn(_LINEAGE_POS, F.lit(None).cast("long"))
            return df
        if not ops and not with_lineage:
            paths = [os.path.join(self.root, f.path) for f in files]
            return spark.read.schema(schema).parquet(*paths)
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            k = tuple(
                i for i, o in enumerate(ops) if _op_applies(f, o, self.root)
            )
            groups.setdefault(k, []).append(f)
        out: DataFrame | None = None
        for k in sorted(groups):
            paths = [os.path.join(self.root, f.path) for f in groups[k]]
            df = spark.read.schema(schema).parquet(*paths)
            # lineage columns are needed when any positional delete
            # applies to this era (the anti-join key) or the caller asked
            # for them; they must be derived on the scan frame directly
            # (_metadata is unavailable after a union)
            need_lineage = with_lineage or any(
                ops[i]["kind"] == "pos" for i in k
            )
            if need_lineage:
                df = _with_lineage(df)
            for i in k:
                df = self._by_delete(spark, df, ops[i], schema, "left_anti")
            if need_lineage and not with_lineage:
                df = df.drop(_LINEAGE_FILE, _LINEAGE_POS)
            out = df if out is None else out.unionByName(df)
        return out

    def _by_delete(
        self,
        spark: SparkSession,
        df: DataFrame,
        op: dict,
        schema: T.StructType,
        how: str,
    ) -> DataFrame:
        """The rows of ``df`` that one merge-on-read delete ``op`` keeps
        (``how="left_anti"``) or hides (``"left_semi"``), in Spark: a
        predicate is the ``_kept_by`` filter or the ``_matched_by`` one,
        an equality-delete file a join on its key columns (null keys
        never match, as in the CoW merge join), a positional one a join
        on the lineage columns ``df`` carries. ``_arrow_delete`` is the
        driver's twin."""
        if op["kind"] == "pred":
            if how == "left_anti":
                return df.filter(_kept_by(op["where"]))
            return df.filter(_matched_by(op["where"], schema))
        path = os.path.join(self.root, op["path"])
        if op["kind"] == "pos":
            dels = spark.read.schema(_POS_DELETE_SCHEMA).parquet(path)
            on = (F.col(_LINEAGE_FILE) == dels["file_path"]) & (
                F.col(_LINEAGE_POS) == dels["pos"]
            )
            return df.join(dels, on, how=how)
        kcols = op["equality_cols"]
        kschema = T.StructType([f for f in schema.fields if f.name in set(kcols)])
        keys = spark.read.schema(kschema).parquet(path)
        return df.join(keys, on=list(kcols), how=how)

    def _read_arrow(
        self, files: list[DataFile], snap: Snapshot, budget: int
    ) -> pa.Table | None:
        """The driver's twin of ``_read_files_mor``: ``files`` read by
        pyarrow in ``snap``'s schema with its pending merge-on-read
        deletes applied, or None when that is not exact or not cheap.

        Files group by era as in the Spark read. In an era, positional
        deletes drop raw row indexes of the files whose lineage path
        (``_lineage_path``) they name, equality deletes are a left-anti
        join on the key columns (null keys never match), and predicate
        deletes keep the rows where ``to_arrow_expr`` is false or null.

        None for a UTC timestamp column (Spark stores INT96), an
        applicable delete without an Arrow twin (a predicate
        ``to_arrow_expr`` rejects, a float or nested equality key), and
        ``files`` larger than ``budget`` bytes on disk or, once read,
        decoded."""
        spark_schema = _schema(snap)
        if _has(spark_schema, T.TimestampType) or sum(f.bytes for f in files) > budget:
            return None
        schema = to_arrow_schema(spark_schema)
        ops = _delete_ops(snap)
        eras: dict[tuple, list[DataFile]] = {}
        for f in files:
            k = tuple(i for i, o in enumerate(ops) if _op_applies(f, o, self.root))
            eras.setdefault(k, []).append(f)
        twins = {
            i: self._arrow_delete(ops[i], schema)
            for i in set(itertools.chain.from_iterable(eras))
        }
        if any(twin is None for twin in twins.values()):
            return None
        out = [schema.empty_table()]
        for k, era in eras.items():
            reads = []
            for f in era:
                reads.append(_read_arrow_file(self.root, f, schema))
                budget -= reads[-1].nbytes
                if budget < 0:
                    return None
            rows = pa.concat_tables([schema.empty_table(), *reads])
            dropped = np.zeros(rows.num_rows, dtype=bool)
            if any(ops[i]["kind"] == "pos" for i in k):
                # each file's lineage path, first row and row count
                counts = np.array([r.num_rows for r in reads], dtype=np.int64)
                lineage = pa.table(
                    {
                        "file_path": [_lineage_path(self.root, f) for f in era],
                        "__ils_off": np.cumsum(counts) - counts,
                        "__ils_n": counts,
                    }
                )
            for i in k:
                twin = twins[i]
                if ops[i]["kind"] == "eq":
                    keys = twin.column_names
                    hit = _indexed(rows, keys, "__ils_t").join(
                        twin, keys, join_type="left semi"
                    )
                    dropped[hit["__ils_t"].to_numpy()] = True
                elif ops[i]["kind"] == "pos":
                    hit = twin.join(lineage, "file_path", join_type="inner")
                    pos = hit["pos"].to_numpy()
                    ok = (pos >= 0) & (pos < hit["__ils_n"].to_numpy())
                    dropped[(hit["__ils_off"].to_numpy() + pos)[ok]] = True
            rows = rows.filter(pa.array(~dropped))
            for i in k:
                if ops[i]["kind"] == "pred":
                    rows = rows.filter(~twins[i] | twins[i].is_null())
            out.append(rows)
        return pa.concat_tables(out)

    def _arrow_delete(self, op: dict, schema: pa.Schema):
        """A delete op's Arrow twin for ``_read_arrow``: the predicate's
        ``to_arrow_expr``, an equality-delete file's key rows, or a
        positional delete file's non-null (file_path, pos) rows; None
        when there is none."""
        if op["kind"] == "pred":
            return to_arrow_expr(op["where"], schema)
        path = os.path.join(self.root, op["path"])
        if op["kind"] == "pos":
            return _read_columns(path, _POS_DELETE_ARROW).drop_null()
        keys = list(op["equality_cols"])
        if not all(c in schema.names for c in keys) or not _arrow_keys(schema, keys):
            return None
        return _read_columns(path, pa.schema([schema.field(c) for c in keys]))

    def _rewrite_rows_arrow(
        self,
        files: list[DataFile],
        snap: Snapshot,
        spec: list[PartitionField],
        sort_within: list[str] | None,
        where: str | None = None,
    ) -> list[DataFile] | None:
        """Rewrite ``files`` of ``snap`` on the driver, less the rows
        ``where`` matches when given, as one file per partition value
        sorted by ``sort_within`` (``_write_arrow_files``), or None when
        the Spark path must run: ``where`` has no ``to_arrow_expr`` twin,
        ``_read_arrow`` declines under ``DRIVER_MERGE_BYTES``, or
        ``_arrow_partition_values`` rejects the output."""
        schema = to_arrow_schema(_schema(snap))
        e = to_arrow_expr(where, schema) if where is not None else None
        if where is not None and e is None:
            return None
        rows = self._read_arrow(files, snap, DRIVER_MERGE_BYTES)
        if rows is None:
            return None
        if e is not None:
            rows = rows.filter(~e | e.is_null())
        values = _arrow_partition_values(rows, snap, spec, sort_within)
        if values is None:
            return None
        return self._write_arrow_files(rows, spec, snap, values, sort_within)

    def _row_changing_snapshots(self, from_version: int, to_version: int):
        """Snapshots in (from_version, to_version], oldest first, minus
        the row-preserving ones (``ROW_PRESERVING_OPS``)."""
        for v in sorted(
            v
            for v in self.meta.list_versions()
            if from_version < v <= to_version
        ):
            snap = self.snapshot(v)
            if snap.operation not in ROW_PRESERVING_OPS:
                yield snap

    def _parent_of(self, snap: Snapshot) -> Snapshot | None:
        if snap.parent_version is None:
            return None
        try:
            return self.snapshot(snap.parent_version)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot history expired: parent manifest "
                f"v{snap.parent_version} of snapshot {snap.version} was "
                f"removed by expire_snapshots; restart from a retained "
                f"snapshot (version >= {snap.version}) or rescan the table"
            ) from None

    def appended_files(self, from_version: int, to_version: int) -> list[DataFile]:
        """Data files appended after ``from_version`` (exclusive) up to
        ``to_version`` (inclusive) — the metadata-only append-log walk
        behind :meth:`scan_incremental` and the sparkberg stream source.

        Row-preserving snapshots (``create`` included) are skipped, so a
        tail from version 0 works. A branch chain's ``branch-fork`` seed
        emits its files: they are what a from-zero branch tail delivers
        first (its parent points into main's chain, which a branch handle
        cannot resolve). Any row-changing operation raises — a consumer
        that needs those needs the CDC log, not a file diff.
        """
        out: list[DataFile] = []
        for snap in self._row_changing_snapshots(from_version, to_version):
            if snap.operation == "branch-fork":
                out.extend(snap.files)
                continue
            if snap.operation != "append":
                raise ValueError(
                    f"append-only tail: snapshot {snap.version} is "
                    f"'{snap.operation}' — consume row-level changes via "
                    f"Table.changes (CDC) instead"
                )
            parent = self._parent_of(snap)
            parent_paths = {f.path for f in parent.files} if parent else set()
            out.extend(f for f in snap.files if f.path not in parent_paths)
        return out

    def scan_incremental(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Rows appended after ``from_version`` (exclusive) up to
        ``to_version`` (inclusive) — the incremental append scan
        (Iceberg's ``start-snapshot-id``/``end-snapshot-id`` read) over
        :meth:`appended_files`. The appended files are read directly, so
        an incremental consumer never rescans the base table: cost is
        proportional to the delta, not the table.
        """
        ensure_compat(spark)
        to_snap = self.snapshot(to_version)
        new_files = self.appended_files(from_version, to_snap.version)
        files, _ = prune_files(where, new_files, _spec(to_snap))
        schema = _schema(to_snap)
        df = self._read_files_mor(spark, files, schema, [])
        if where:
            df = df.filter(_matched_by(where, schema))
        return df

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Net row-level changelog between two snapshots (Iceberg's
        ``create_changelog_view``): one row per changed row, with
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
        An update surfaces as a delete (old values) + insert (new values)
        at the same commit version.

        Works for EVERY operation (append/overwrite/delete/merge/
        rollback): each commit's change set is the multiset difference
        between the rows it shows and the rows it hides, so rows a
        copy-on-write rewrite merely carried over, and updates that
        change nothing, cancel out exactly. It shows the rows of its
        added files, and hides those of its removed files. A
        merge-on-read delete it records (matched by kind, sequence and
        predicate or path) hides the rows of the files it kept that the
        delete hides (``_by_delete``); one it drops, as a rollback may,
        shows them again. Row-preserving snapshots
        (``ROW_PRESERVING_OPS``) are skipped outright — no bytes read.

        Scale: cost is proportional to the CHURNED files per commit
        (added + removed) plus the kept files each recorded or dropped
        delete applies to (``_op_applies``), never the rest of the
        table; the only shuffle is the per-commit ``exceptAll``.
        Consumers that only ever append should prefer
        :meth:`scan_incremental`, which reads the delta files with no
        diff shuffle at all.
        """
        ensure_compat(spark)
        to_snap = self.snapshot(to_version)
        schema = _schema(to_snap)

        def key(o: dict) -> tuple:
            return o["kind"], o["sequence"], o.get("where") or o["path"]

        out: DataFrame | None = None
        for snap in self._row_changing_snapshots(from_version, to_snap.version):
            v = snap.version
            parent = self._parent_of(snap)
            parent_files = parent.files if parent else []
            parent_ops = _delete_ops(parent) if parent else []
            snap_ops = _delete_ops(snap)
            snap_paths = {f.path for f in snap.files}
            parent_paths = {f.path for f in parent_files}
            added = [f for f in snap.files if f.path not in parent_paths]
            removed = [f for f in parent_files if f.path not in snap_paths]
            kept = [f for f in snap.files if f.path in parent_paths]
            step_schema = _schema(snap)
            # read both sides with THIS snapshot's schema: parquet fills
            # columns added by later evolution with NULLs, so the diff
            # stays column-aligned across an evolving range. Each side
            # is read through ITS snapshot's deletes so already-hidden
            # rows never resurface in the diff.
            sides = {
                "insert": self._read_files_mor(spark, added, step_schema, snap_ops),
                "delete": self._read_files_mor(spark, removed, step_schema, parent_ops),
            }
            changed = bool(added or removed)
            # a delete the commit recorded deletes the rows it hides among
            # the kept files' rows the parent's deletes and the earlier
            # recorded ones leave; a delete it dropped inserts again the
            # rows it hid among those the snapshot's deletes and the
            # earlier dropped ones leave
            for change, base, other in (
                ("delete", parent_ops, snap_ops),
                ("insert", snap_ops, parent_ops),
            ):
                keys = {key(o) for o in base}
                new = [o for o in other if key(o) not in keys]
                for i, o in enumerate(new):
                    files = [f for f in kept if _op_applies(f, o, self.root)]
                    if not files:
                        continue
                    visible = self._read_files_mor(
                        spark,
                        files,
                        step_schema,
                        base + new[:i],
                        with_lineage=o["kind"] == "pos",
                    )
                    hit = self._by_delete(spark, visible, o, step_schema, "left_semi")
                    sides[change] = sides[change].unionByName(
                        hit.drop(_LINEAGE_FILE, _LINEAGE_POS)
                    )
                    changed = True
            if not changed:
                continue
            a, r = sides["insert"], sides["delete"]
            ins = (
                a.exceptAll(r)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v))
            )
            dels = (
                r.exceptAll(a)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v))
            )
            step = ins.unionByName(dels)
            out = (
                step
                if out is None
                else out.unionByName(step, allowMissingColumns=True)
            )
        if out is None:
            empty = T.StructType(
                schema.fields
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.IntegerType(), False),
                ]
            )
            return spark.createDataFrame([], empty)
        return out

    # ---- physical write helpers -----------------------------------------

    def _write_data_files(
        self,
        df: DataFrame,
        spec: list[PartitionField],
        snap: Snapshot,
        sort_within: list[str] | None | object = "__table_default__",
    ) -> list[DataFile]:
        """Write df's rows as new parquet files; return manifest entries.

        ``snap`` is the head the calling operation resolved: the codec,
        ``write.sort-order`` and ``write.bloom.keys`` come from its
        properties.

        ``sort_within``: sort rows by these columns INSIDE each write task,
        after the partition-value repartition. This is how a sort-clustered
        rewrite on a partitioned table keeps its clustering — any sort
        applied by the caller before this method would be destroyed by the
        partition repartition below. Defaults to the table's standing
        ``write.sort-order`` property; pass ``None`` to disable."""
        if sort_within == "__table_default__":
            sort_within = _sort_order(snap)
        if sort_within:
            # projections (e.g. equality-delete key files) may not carry
            # every table sort column — sort by the ones present
            sort_within = [c for c in sort_within if c in df.columns]
        staging_rel = new_data_dir()
        staging_abs = os.path.join(self.root, staging_rel)
        out = df
        pcols = []
        for pf in spec:
            expr = spark_expr(pf)
            if pf.transform == "truncate" or isinstance(
                df.schema[pf.source].dataType, T.StringType
            ):
                # "" and the Hive default name share null's directory:
                # as separate values they land in separate tasks (two
                # files there) or in one task (a file-name clash)
                expr = F.when(~expr.isin("", HIVE_NULL), expr)
            out = out.withColumn(f"_p_{pf.name}", expr)
            pcols.append(f"_p_{pf.name}")
        writer_df = out
        if pcols:
            # Cluster rows by partition value before the partitioned write:
            # without this every task emits a file for every partition it
            # touches (tasks × partitions small files — 80k at sf0.01 with
            # day() granularity); with it each partition's rows arrive in
            # exactly one task → one right-sized file per partition. A hot
            # partition would need a salt column appended here; AQE rebalances
            # the rest.
            writer_df = out.repartition(*[F.col(c) for c in pcols])
        if sort_within:
            cols = (pcols if pcols else []) + list(sort_within)
            writer_df = writer_df.sortWithinPartitions(*cols)
        writer = writer_df.write.mode("errorifexists").option(
            "compression", _codec(snap)
        )
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(staging_abs)
        entries = self._collect_entries(
            staging_abs, staging_rel, spark=df.sparkSession
        )
        # Spark's task 0 writes a file even when it has no rows; no
        # commit should make every later read open it
        discard_files(self.root, [e.path for e in entries if e.rows == 0])
        entries = [e for e in entries if e.rows > 0]
        if entries:
            self._attach_blooms(df.sparkSession, entries, staging_abs, df.columns, snap)
        return entries

    def _write_arrow_files(
        self,
        rows: pa.Table,
        spec: list[PartitionField],
        snap: Snapshot,
        values,
        sort_within: list[str] | None,
    ) -> list[DataFile]:
        """The driver's twin of ``_write_data_files`` for an Arrow table
        whose partition ``values`` (one array per spec field) have an
        exact Arrow twin: one sort by partition values, then the
        ``sort_within`` columns (ascending, nulls first, as
        ``sortWithinPartitions``), one file per partition-value run, in
        the Spark writer's directory layout. Entries come from the
        writers' returned metadata: no Spark job, no footer read."""
        staging_rel = new_data_dir()
        staging_abs = os.path.join(self.root, staging_rel)
        names = [f"_p_{pf.name}" for pf in spec]
        # projections (equality-delete key files) may not carry every
        # table sort column: sort by the ones present, as the Spark writer
        keys = pa.table(
            dict(zip(names, values))
            | {c: rows[c] for c in sort_within or [] if c in rows.column_names}
        )
        if keys.num_columns:
            order = pc.sort_indices(
                keys,
                sort_keys=[(c, "ascending") for c in keys.column_names],
                null_placement="at_start",
            )
            rows, keys = rows.take(order), keys.take(order)
        keys = keys.select(names)
        cuts = {0, rows.num_rows}  # where a partition-value run starts
        for col in keys.columns:
            col = col.combine_chunks()
            same = _null_safe_equal(col[:-1], col[1:])
            cuts.update(i + 1 for i in pc.indices_nonzero(pc.invert(same)).to_pylist())
        cuts = sorted(cuts)
        codec, entries = _codec(snap), []
        for start, end in zip(cuts, cuts[1:]):
            chunk = rows.slice(start, end - start)
            part = keys.slice(start, 1).to_pylist()[0] if names else {}
            dirs = [
                f"{k}={_escape_path_name(HIVE_NULL if v is None else v)}"
                for k, v in part.items()
            ]
            rel = "/".join(
                [staging_rel, *dirs, f"part-00000-{uuid.uuid4()}-c000.parquet"]
            )
            path = os.path.join(self.root, rel)
            with open_parquet_writer(path, chunk, codec) as writer:
                writer.write_table(chunk)
            entry = data_file_entry(
                writer.writer.metadata,
                rel,
                os.path.getsize(path),
                {k[3:]: v for k, v in part.items()},
            )
            _float_bounds(entry, chunk)
            entries.append(entry)
        if _bloom_keys(snap):
            spark = SparkSession.builder.getOrCreate()
            self._attach_blooms(spark, entries, staging_abs, rows.column_names, snap)
        return entries

    def _write_rows(
        self, rows, snap: Snapshot, spec: list[PartitionField] | None = None
    ) -> list[DataFile]:
        """Write a DataFrame, or an Arrow table (cast to the table schema
        of its columns), into new data files. ``spec`` defaults to the
        table's. An Arrow table that fits ``TARGET_FILE_BYTES`` goes
        through the driver's Arrow writer whenever that reproduces the
        Spark writer's files; anything else is written by Spark, an Arrow
        table in one partition per target file (``_arrow_to_spark``)."""
        spec = _spec(snap) if spec is None else spec
        if isinstance(rows, pa.Table):
            schema = _schema(snap)
            schema = T.StructType([schema[c] for c in rows.column_names])
            rows = rows.cast(to_arrow_schema(schema))
            if rows.nbytes <= TARGET_FILE_BYTES:
                sort_within = _sort_order(snap)
                values = _arrow_partition_values(rows, snap, spec, sort_within)
                if values is not None:
                    return self._write_arrow_files(
                        rows, spec, snap, values, sort_within
                    )
            rows = _arrow_to_spark(rows, schema)
        return self._write_data_files(rows, spec, snap)

    def _attach_blooms(
        self, spark: SparkSession, entries, staging_abs: str, columns, snap
    ) -> None:
        bloom_cols = _bloom_keys(snap)
        if not bloom_cols or not all(c in columns for c in bloom_cols):
            return
        # One column-pruned read-back of the staged files builds the
        # per-file key blooms (bounded ≤m-position payload per file).
        blooms = bloom_mod.compute_file_blooms(spark, staging_abs, bloom_cols)
        for e in entries:
            rel = os.path.relpath(
                os.path.join(self.root, e.path), staging_abs
            ).replace(os.sep, "/")
            b64 = blooms.get(rel)
            if b64 is not None:
                e.bloom = {
                    "keys": list(bloom_cols),
                    "m": bloom_mod.BLOOM_M,
                    "k": bloom_mod.BLOOM_K,
                    "b64": b64,
                }

    def _collect_entries(
        self, staging_abs: str, staging_rel: str, spark: SparkSession | None = None
    ) -> list[DataFile]:
        """Footer-read newly written files → manifest entries.

        The file LISTING stays on the driver (cheap directory walk; the
        commit must enumerate its own files anyway), but the per-file
        footer reads — the O(files) metadata work — fan out as a Spark
        job once the write is wide enough: a 1000-file append serializing
        a thousand footer reads on the driver was the one flagged
        local-only scale shortcut. The reads distribute at
        ≥ ``_MANIFEST_DISTRIBUTE_MIN`` files. Executors must see the
        table's storage paths (trivially true locally; on a cluster the
        warehouse lives on shared storage by construction). Entry order
        is identical either way: ``parallelize`` + ``collect`` preserve
        input order, so commit metadata does not depend on where the
        footers were read.
        """
        jobs: list[tuple[str, str, dict]] = []
        for dirpath, _dirnames, filenames in os.walk(staging_abs):
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                abs_path = os.path.join(dirpath, fn)
                rel_path = os.path.relpath(abs_path, self.root)
                partition = {}
                for seg in os.path.relpath(dirpath, staging_abs).split(os.sep):
                    if "=" in seg and seg.startswith("_p_"):
                        k, v = seg.split("=", 1)
                        v = urllib.parse.unquote(v)
                        partition[k[3:]] = None if v == HIVE_NULL else v
                jobs.append((abs_path, rel_path, partition))
        if spark is None or len(jobs) < _MANIFEST_DISTRIBUTE_MIN:
            return [entry_from_footer(a, r, p) for a, r, p in jobs]
        sc = spark.sparkContext
        n_slices = max(1, min(len(jobs), sc.defaultParallelism))
        return (
            sc.parallelize(jobs, n_slices)
            .map(lambda j: entry_from_footer(j[0], j[1], j[2]))
            .collect()
        )

    # ---- commit loop -----------------------------------------------------

    @staticmethod
    def _validate_cow_input(
        parent: Snapshot,
        scanned_paths: set[str],
        op: str,
        added_may_conflict=None,
    ) -> None:
        """Snapshot validation for copy-on-write rewrites.

        ``scanned_paths`` is the file set candidate selection ran
        against. If the refreshed commit parent has files we never
        scanned (concurrent append — rows that never met the predicate /
        merge keys) or lost files we scanned (concurrent rewrite — our
        output would resurrect their rows), the rewrite cannot be
        rebased; raise :class:`ConcurrentModification` so the caller
        re-scans, mirroring Iceberg's validation failure.

        ``added_may_conflict(files) -> files`` narrows the concurrently
        ADDED set to files that could actually conflict (Iceberg's
        conflict-detection filter): for DELETE it re-applies the same
        metadata predicate used for candidate selection, so steady
        append load on unrelated partitions never starves a long delete.
        Removed-scanned-files always abort — no filter can prove a
        vanished file irrelevant.
        """
        parent_paths = {f.path for f in parent.files}
        added = [f for f in parent.files if f.path not in scanned_paths]
        removed = scanned_paths - parent_paths
        if added and added_may_conflict is not None:
            added = added_may_conflict(added)
        if added or removed:
            raise ConcurrentModification(
                f"{op}: concurrent commit changed the table's file set "
                f"(+{len(added)} conflicting/-{len(removed)} files) after "
                f"candidate selection; re-run the {op} against the current "
                f"snapshot"
            )

    def _commit_with_retry(self, build, head: Snapshot | None = None) -> Snapshot:
        """Optimistic-commit loop (reference: 10 retries, core/config.py:15-17).

        Each attempt invokes ``build(parent) -> Snapshot`` and commits it
        on ``parent``. The first attempt builds on ``head``, the snapshot
        the operation already resolved, when given; the head is re-read
        only after a :class:`CommitConflict` (Iceberg's commit against
        its base metadata, refreshed on conflict). A conflict on the
        pre-resolved head is not a retry: the budget is the parent's
        ``commit.retry.num-retries`` on freshly read parents.
        """
        for attempt in itertools.count(0 if head is None else -1):
            parent = head if attempt < 0 else self.snapshot()
            snap = build(parent)
            try:
                return self.meta.commit(snap, expected_parent=parent)
            except CommitConflict:  # another writer won; rebase
                retries = parent.properties.get(
                    "commit.retry.num-retries",
                    DEFAULT_TABLE_PROPERTIES["commit.retry.num-retries"],
                )
                if attempt >= int(retries):
                    raise

    # ---- write strategies (SURVEY A7-A10) --------------------------------

    def append(
        self,
        df: DataFrame | pa.Table,
        extra_properties: dict[str, str] | None = None,
        *,
        head: Snapshot | None = None,
    ) -> Snapshot:
        """A7: append — new snapshot = parent files + new files.

        ``df`` is a DataFrame or an Arrow table (``_write_rows``).
        ``extra_properties`` are merged into the snapshot's table
        properties ATOMICALLY with the data commit — the hook idempotent
        consumers (the exactly-once streaming sink) use to record their
        progress marker in the same transaction as the rows. ``head``,
        here and in ``overwrite``, ``delete_where`` and ``merge``, is
        the head the caller holds, which the write commits on.
        """
        head = self.snapshot() if head is None else head
        entries = self._write_rows(df, head)
        return self._commit_with_retry(_append_build(entries, extra_properties), head)

    def overwrite(
        self, df: DataFrame | pa.Table, *, head: Snapshot | None = None
    ) -> Snapshot:
        """A8 (first flush): replace all table data with df's rows (a
        DataFrame or an Arrow table, as in ``append``)."""
        head = self.snapshot() if head is None else head
        entries = self._write_rows(df, head)
        return self._commit_with_retry(_overwrite_build(entries), head)

    def delete_where(
        self,
        spark: SparkSession,
        where: str,
        mode: str = "cow",
        *,
        head: Snapshot | None = None,
    ) -> Snapshot:
        """A9/A14: row-filter DELETE.

        ``mode="cow"`` (default) — copy-on-write at file granularity:
        files whose metadata proves no match carry over untouched; only
        candidate files are rewritten with the negated predicate. When the
        predicate aligns with the partition spec this becomes a pure
        metadata delete (candidates drop entirely, zero rewrite) — same
        fast path Iceberg/Spark DELETE has.

        ``mode="mor"`` — merge-on-read: the predicate is recorded in the
        snapshot (O(1) metadata, ZERO data rewritten) and applied at scan
        time to every file whose sequence predates the delete; rows
        appended afterwards are untouched. The 100 TB posture for small
        deletes against huge files (Iceberg v2 delete-file semantics);
        ``rewrite_data_files`` later materializes and clears the
        predicates. Metadata-proof fully-matching files are still dropped
        outright, so partition-aligned deletes stay pure-metadata AND
        instant in either mode.

        A CoW rewrite runs on the driver (``_rewrite_rows_arrow``) when
        the Spark writer would make one file per partition value (a
        partitioned table, or a single candidate) and the candidates
        fit ``DRIVER_MERGE_BYTES``, else in Spark.
        """
        if mode not in ("cow", "mor", "mor-pos"):
            raise ValueError(f"unknown delete mode: {mode!r}")
        ensure_compat(spark)
        snap = self.snapshot() if head is None else head
        if mode == "mor":
            return self._delete_where_mor(where, snap)
        if mode == "mor-pos":
            return self._delete_where_mor_pos(spark, where, snap)
        spec = _spec(snap)
        # three-way split: metadata-proof full matches are dropped without
        # any rewrite (the partition-aligned fast path); only partial
        # matches are rewritten; clean files carry over by reference
        dropped, candidates, _clean = split_delete_candidates(
            where, snap.files, spec
        )
        new_entries: list[DataFile] | None = []
        deleted_rows = sum(f.rows for f in dropped)
        rewritten = []
        if candidates:
            # the Spark writer makes one file per partition value, or one
            # per input split when unpartitioned: the driver writes the
            # former, and a single candidate's one split
            new_entries = (
                self._rewrite_rows_arrow(
                    candidates, snap, spec, _sort_order(snap), where
                )
                if spec or len(candidates) == 1
                else None
            )
            if new_entries is None:
                cdf = self._read_files_mor(
                    spark, candidates, _schema(snap), _delete_ops(snap)
                )
                keep = cdf.filter(_kept_by(where))
                new_entries = self._write_data_files(keep, spec, snap)
            kept_rows = sum(e.rows for e in new_entries)
            deleted_rows += sum(f.rows for f in candidates) - kept_rows
            rewritten = candidates

        rewritten_paths = {f.path for f in rewritten} | {f.path for f in dropped}
        scanned_paths = {f.path for f in snap.files}

        def build(parent: Snapshot) -> Snapshot:
            # Candidate selection was pinned to `snap`; a concurrent
            # commit that added files WHICH MAY MATCH the predicate (rows
            # never filtered) or removed scanned files (our rewrite would
            # resurrect their rows) invalidates it — fail validation like
            # Iceberg, don't rebase. Appends whose files provably cannot
            # match (same prune_files metadata check used for candidate
            # selection) carry over safely and do not abort.
            self._validate_cow_input(
                parent,
                scanned_paths,
                "delete",
                added_may_conflict=lambda fs: prune_files(where, fs, spec)[0],
            )
            remaining = [f for f in parent.files if f.path not in rewritten_paths]
            _stamp_sequence(new_entries, parent.version + 1)
            return new_snapshot(
                parent,
                "delete",
                parent.schema_json,
                parent.partition_spec,
                remaining + new_entries,
                parent.properties,
                {
                    "deleted-records": deleted_rows,
                    "rewritten-files": len(rewritten),
                    "total-records": parent.total_rows - deleted_rows,
                },
            )

        return self._commit_with_retry(build, snap)

    def _delete_where_mor(self, where: str, snap: Snapshot) -> Snapshot:
        """Merge-on-read DELETE: record the predicate, rewrite nothing.

        The commit is pure metadata — the predicate plus the new
        snapshot's version as its sequence number; scans apply it to
        every file with a lower sequence. Metadata-proof full matches
        (partition-aligned deletes) still drop their files outright, so
        the common prune case costs nothing at scan time either.
        """
        to_spark_sql(where)  # validate the predicate parses NOW, not at scan
        spec = _spec(snap)
        scanned_paths = {f.path for f in snap.files}

        def build(parent: Snapshot) -> Snapshot:
            # Same append-conflict posture as the CoW path: a concurrent
            # append that MAY match would be silently swallowed by our
            # higher-sequence predicate — abort instead (provably
            # unmatching appends carry over; concurrent rewrites are safe
            # here because the predicate applies to their output by
            # sequence, so removed scanned files do NOT abort).
            added = [f for f in parent.files if f.path not in scanned_paths]
            conflicting = prune_files(where, added, spec)[0] if added else []
            if conflicting:
                raise ConcurrentModification(
                    f"mor delete invalidated by {len(conflicting)} "
                    f"concurrently added file(s) that may match {where!r}"
                )
            seqv = parent.version + 1
            dropped, _cands, _clean = split_delete_candidates(
                where, parent.files, spec
            )
            dropped_paths = {f.path for f in dropped}
            kept = [f for f in parent.files if f.path not in dropped_paths]
            return new_snapshot(
                parent,
                "delete",
                parent.schema_json,
                parent.partition_spec,
                kept,
                parent.properties,
                {
                    "delete-mode": "mor",
                    "delete-where": where,
                    "dropped-files": len(dropped),
                    "deleted-records-min": sum(f.rows for f in dropped),
                },
                delete_predicates=parent.delete_predicates
                + [{"where": where, "sequence": seqv}],
            )

        return self._commit_with_retry(build, snap)

    def _delete_where_mor_pos(
        self, spark: SparkSession, where: str, snap: Snapshot
    ) -> Snapshot:
        """Merge-on-read DELETE with POSITION delete files (Iceberg v2's
        second delete shape): the predicate is evaluated ONCE, now, and
        the matching rows' (file_path, pos) pairs land in one delete
        file; scans anti-join on row lineage instead of re-evaluating
        the predicate every read.

        vs ``mode='mor'`` (predicate-as-metadata): the predicate path is
        O(1) commit but re-filters every scan and requires the predicate
        stay deterministic; the positional path pays one predicate scan
        at delete time, then costs scans a lineage anti-join bounded by
        the REFERENCED files only (``paths`` / file_path-range pruning in
        ``_op_applies``). Metadata-proof full matches still drop their
        files outright in both.

        Isolation: snapshot — a position references rows existing at
        execution, so concurrent appends never conflict (their rows were
        never covered); a concurrent REWRITE of a scanned candidate
        re-homes rows to new positions, which would resurrect them, so
        that aborts with :class:`ConcurrentModification`. Positions are
        computed from the RAW candidate files (pending deletes not
        re-applied): a position for an already-hidden row is a no-op in
        the anti-join, never a correctness issue.
        """
        sql_pred = to_spark_sql(where)  # validates the predicate parses
        dropped, candidates, _clean = split_delete_candidates(
            where, snap.files, _spec(snap)
        )
        pos_entries: list[DataFile] = []
        if candidates:
            paths = [os.path.join(self.root, f.path) for f in candidates]
            raw = _with_lineage(
                spark.read.schema(_schema(snap)).parquet(*paths)
            )
            pos_df = (
                raw.filter(F.expr(sql_pred))
                .select(
                    F.col(_LINEAGE_FILE).alias("file_path"),
                    F.col(_LINEAGE_POS).alias("pos"),
                )
                .coalesce(1)
            )
            pos_entries = self._write_data_files(
                pos_df, [], snap, sort_within=["file_path", "pos"]
            )
            # "" is a row whose file lineage could not name (outside
            # new_data_dir()'s layout): committing it would delete the
            # same position in every such file
            if any(e.stats.get("file_path", [None])[0] == "" for e in pos_entries):
                discard_files(self.root, [e.path for e in pos_entries])
                raise ValueError(
                    f"positional delete refused: a matching row's data "
                    f"file lies outside {DATA_DIR}/<uuid>/, so its path "
                    f"cannot be recorded; use mode='mor' or 'cow'"
                )
        cand_paths = [f.path for f in candidates]
        refs = {_lineage_path(self.root, f): f.path for f in candidates}
        dropped_paths = {f.path for f in dropped}

        def build(parent: Snapshot) -> Snapshot:
            parent_paths = {f.path for f in parent.files}
            gone = [p for p in cand_paths if p not in parent_paths]
            if gone and pos_entries:
                raise ConcurrentModification(
                    f"positional delete invalidated: {len(gone)} scanned "
                    f"file(s) rewritten concurrently (positions would "
                    f"dangle and rows resurrect)"
                )
            kept = [f for f in parent.files if f.path not in dropped_paths]
            dels = parent.delete_files + _pos_delete_ops(
                pos_entries, parent.version + 1, refs
            )
            return new_snapshot(
                parent,
                "delete",
                parent.schema_json,
                parent.partition_spec,
                kept,
                parent.properties,
                {
                    "delete-mode": "mor-pos",
                    "delete-where": where,
                    "dropped-files": len(dropped),
                    "position-delete-files": len(pos_entries),
                    "position-delete-rows": sum(e.rows for e in pos_entries),
                },
                delete_files=dels,
            )

        return self._commit_with_retry(build, snap)

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame | pa.Table,
        join_cols: list[str],
        mode: str = "cow",
        *,
        head: Snapshot | None = None,
    ) -> Snapshot:
        """A10: upsert/MERGE with PyIceberg-parity semantics.

        * duplicate join keys in source → error (reference
          core/strategies.py:69-81 delegates to pyiceberg upsert, which
          enforces this)
        * matched target rows take the full source row; non-matching
          target rows are preserved; unmatched source rows are inserted
        * ``mode="cow"`` (default): only files that actually contain
          matching keys are rewritten (read-optimized)
        * ``mode="mor"``: NOTHING is read or rewritten — the source rows
          land as new data files plus ONE equality-delete file on the
          join keys (Iceberg v2 / Flink-CDC upsert shape). Commit cost
          is O(source); scans anti-join lower-sequence files against the
          key file until compaction materializes it. The write-optimized
          posture for high-frequency upserts at 100 TB.

        ``source`` is a DataFrame or an Arrow table. An Arrow table whose
        keys Arrow joins as Spark does is checked for duplicate keys in
        Arrow, prunes the CoW candidates by its key range and blooms, and
        is merged on the driver when that is eligible
        (``_merge_rows_arrow``), else by Spark on those candidates; any
        other source is merged by Spark on every file.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode: {mode!r}")
        ensure_compat(spark)
        snap = self.snapshot() if head is None else head
        schema = _schema(snap)
        missing = [c for c in join_cols if c not in schema.names]
        if missing:
            raise ValueError(f"join columns not in schema: {missing}")
        arrow = False  # an Arrow source with keys Arrow checks as Spark does
        if isinstance(source, pa.Table):
            source = source.select(schema.names).cast(to_arrow_schema(schema))
            arrow = _arrow_keys(source.schema, join_cols)
            if arrow:
                _check_unique_keys(source, join_cols)
        rewrite, candidates = None, snap.files
        if arrow and mode == "cow":
            op = _key_range_op(source, join_cols, snap)
            candidates = [f for f in snap.files if op and _op_applies(f, op)]
            rewrite = self._merge_rows_arrow(snap, source, join_cols, candidates)
        # what is left to Spark needs a DataFrame; a MoR upsert writes a
        # checked Arrow source as it is
        to_spark = rewrite is None and not (arrow and mode == "mor")
        if to_spark and isinstance(source, pa.Table):
            source = _arrow_to_spark(source, schema)
        if mode == "mor":
            return self._merge_mor(snap, source, join_cols)
        if rewrite is None:
            rewrite = self._merge_rows_spark(
                spark, snap, source, join_cols, candidates
            )
        affected, new_entries, updated_rows, inserted_rows = rewrite
        affected_rel = {f.path for f in affected}
        scanned_paths = {f.path for f in snap.files}

        def build(parent: Snapshot) -> Snapshot:
            # a concurrent append could hold rows with matching keys that
            # the key semi-join never saw → duplicate keys after merge;
            # fail validation like Iceberg rather than commit (ADVICE r1)
            self._validate_cow_input(parent, scanned_paths, "merge")
            files = [f for f in parent.files if f.path not in affected_rel] + new_entries
            _stamp_sequence(new_entries, parent.version + 1)
            return new_snapshot(
                parent,
                "merge",
                parent.schema_json,
                parent.partition_spec,
                files,
                parent.properties,
                {
                    "updated-records": updated_rows,
                    "inserted-records": inserted_rows,
                    "rewritten-files": len(affected),
                    "total-records": sum(f.rows for f in files),
                },
            )

        return self._commit_with_retry(build, snap)

    def _merge_rows_spark(
        self,
        spark: SparkSession,
        snap: Snapshot,
        source: DataFrame,
        join_cols: list[str],
        candidates: list[DataFile],
    ) -> tuple[list[DataFile], list[DataFile], int, int]:
        """The CoW merge's data path in Spark: the files among
        ``candidates`` that hold a source key, the entries of their
        rewrite plus the inserted rows, and the updated and inserted
        row counts."""
        schema = _schema(snap)
        spec = _spec(snap)
        cols = [f.name for f in schema.fields]
        non_keys = [c for c in cols if c not in join_cols]

        # The source feeds FOUR consumers (dup check, file-location
        # semi-join, the CoW outer join, the insert anti-join) — persist
        # it so its upstream pipeline runs once; the dup check's one
        # aggregate doubles as the eager cache populator.
        src = source.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_src = _count_unique_keys(src, join_cols)
        except ValueError:
            src.unpersist()
            raise

        # locate affected files via key semi-join (metadata → file level)
        affected_rel: set[str] = set()
        if candidates:
            paths = [os.path.join(self.root, f.path) for f in candidates]
            tagged = spark.read.schema(schema).parquet(*paths).withColumn(
                "_file", F.input_file_name()
            )
            hits = (
                tagged.join(src.select(*join_cols), join_cols, "left_semi")
                .select("_file")
                .distinct()
                .collect()
            )
            root_uri_suffixes = {
                os.path.join(self.root, f.path): f.path for f in candidates
            }
            for r in hits:
                fpath = urllib.parse.unquote(urllib.parse.urlparse(r["_file"]).path)
                rel = root_uri_suffixes.get(fpath)
                if rel is None:
                    rel = os.path.relpath(fpath, self.root).replace(os.sep, "/")
                affected_rel.add(rel)
        affected = [f for f in candidates if f.path in affected_rel]

        updated_rows, inserted_rows = 0, n_src
        new_entries: list[DataFile] = []
        if affected:
            # read through the MoR filter: a pending delete predicate must
            # not be resurrected by the rewrite
            tdf = self._read_files_mor(spark, affected, schema, _delete_ops(snap))
            s = src.withColumn("_m", F.lit(1))
            # The outer join feeds TWO actions (updated-rows audit count +
            # the rewrite itself) and tdf feeds a third (insert anti-join);
            # persist so the join shuffle runs once, not per action. Spill
            # bounds memory: the persisted set is only the affected files'
            # rows — the same data the rewrite must hold anyway.
            joined = (
                tdf.alias("t")
                .join(s.alias("s"), join_cols, "left_outer")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            matched = F.col("s._m") == 1
            merged = joined.select(
                *[F.col(f"t.{k}").alias(k) for k in join_cols],
                *[
                    F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                    for c in non_keys
                ],
            ).select(*cols)
            changed = F.lit(False)
            if non_keys:
                t_struct = F.struct(*[F.col(f"t.{c}") for c in non_keys])
                s_struct = F.struct(*[F.col(f"s.{c}") for c in non_keys])
                changed = ~t_struct.eqNullSafe(s_struct)
            # one row per live target row (source keys are unique), and
            # the matched rows whose values change
            n_target, updated_rows = joined.agg(
                F.count("*"), F.count(F.when(matched & changed, 1))
            ).first()
            inserts = src.join(
                joined.select(*[F.col(f"t.{k}").alias(k) for k in join_cols]),
                join_cols,
                "left_anti",
            )
            out = merged.unionByName(inserts.select(*cols))
            try:
                new_entries = self._write_data_files(out, spec, snap)
            finally:
                joined.unpersist()
                src.unpersist()
            # the written rows are the live target rows plus the inserts
            inserted_rows = sum(e.rows for e in new_entries) - n_target
        else:
            try:
                new_entries = self._write_data_files(src, spec, snap)
            finally:
                src.unpersist()
        return affected, new_entries, updated_rows, inserted_rows

    def _merge_rows_arrow(
        self,
        snap: Snapshot,
        source: pa.Table,
        join_cols: list[str],
        candidates: list[DataFile],
    ) -> tuple[list[DataFile], list[DataFile], int, int] | None:
        """The driver's twin of ``_merge_rows_spark`` for an Arrow source
        in the table schema, or None when it is not eligible: the
        candidates larger on disk than ``DRIVER_MERGE_BYTES`` less the
        source, a non-key column type without Arrow equality, a rewrite
        ``_read_arrow`` declines under that budget, or output the Arrow
        writer cannot reproduce (``_arrow_partition_values``).

        The files to rewrite are the candidates holding a source key in
        a raw row, as the Spark merge's key semi-join finds them, from
        their key columns alone; their rows are then read with pending
        deletes applied. Only the key columns and row indexes are
        joined. Taking rows by index reproduces Spark's outer join: each
        matched target row takes its source row, also when the target
        holds a key twice, and null keys never match."""
        schema = source.schema
        non_keys = [c for c in schema.names if c not in join_cols]
        budget = DRIVER_MERGE_BYTES - source.nbytes
        if sum(f.bytes for f in candidates) > budget or not all(
            _has_equal_kernel(schema.field(c).type) for c in non_keys
        ):
            return None
        key_schema = pa.schema([schema.field(c) for c in join_cols])
        keys = [_read_arrow_file(self.root, f, key_schema) for f in candidates]
        file_of = np.repeat(np.arange(len(keys)), [r.num_rows for r in keys])
        found = _indexed(
            pa.concat_tables([key_schema.empty_table(), *keys]), join_cols, "__ils_t"
        ).join(source.select(join_cols), join_cols, join_type="left semi")
        hit = np.unique(file_of[found["__ils_t"].to_numpy()])
        affected = [candidates[i] for i in hit]
        target = self._read_arrow(affected, snap, budget)
        if target is None:
            return None
        pairs = _indexed(target, join_cols, "__ils_t").join(
            _indexed(source, join_cols, "__ils_s"), join_cols, join_type="inner"
        )
        t_rows = pairs["__ils_t"].to_numpy()
        s_rows = pairs["__ils_s"].to_numpy()
        kept = np.ones(target.num_rows, dtype=bool)
        kept[t_rows] = False
        inserted = np.ones(source.num_rows, dtype=bool)
        inserted[s_rows] = False
        updates = source.take(pa.array(s_rows))
        out = pa.concat_tables(
            [
                target.filter(pa.array(kept)),
                updates,
                source.filter(pa.array(inserted)),
            ]
        )
        spec, sort_within = _spec(snap), _sort_order(snap)
        values = _arrow_partition_values(out, snap, spec, sort_within)
        if values is None:
            return None
        matched = target.take(pa.array(t_rows))
        same = pa.array(np.ones(len(t_rows), dtype=bool))
        for c in non_keys:
            same = pc.and_(same, _null_safe_equal(matched[c], updates[c]))
        updated_rows = pc.sum(pc.invert(same)).as_py() or 0
        entries = self._write_arrow_files(out, spec, snap, values, sort_within)
        return affected, entries, updated_rows, int(inserted.sum())

    def _key_probe_hashes(
        self, key_entries: list[DataFile], key_cols: list[str]
    ) -> dict[str, list[list[int]]]:
        """Bloom probe payload for equality-delete ops: per-key (h1, h2)
        hashes let ``_op_applies`` test each delete key against a
        candidate file's bloom. Only computed for small key sets
        (≤ PROBE_CAP total rows) of integer or string keys so the
        manifest op stays O(small) and matches the blooms' hash; other
        deletes fall back to key-range pruning alone. Keys are
        read back from the just-written key files — a driver-side read
        of O(keys) rows, same order as the commit metadata itself."""
        probes: dict[str, list[list[int]]] = {}
        if sum(e.rows for e in key_entries) > bloom_mod.PROBE_CAP:
            return probes
        for e in key_entries:
            hashes = bloom_mod.probe_hashes_for_keys(
                pq.read_table(os.path.join(self.root, e.path), columns=list(key_cols))
            )
            if hashes is not None:
                probes[e.path] = hashes
        return probes

    def _merge_mor(
        self,
        snap: Snapshot,
        source: DataFrame | pa.Table,
        join_cols: list[str],
    ) -> Snapshot:
        """Write-optimized MERGE: append source data files + one
        equality-delete file on the join keys; the target is never read.
        An Arrow source (its keys already checked unique) is written as
        an Arrow append is, and so is its key file: no Spark job when the
        Arrow writer reproduces the Spark writer's files.

        Isolation note: like Flink's CDC writer, this commits under
        snapshot isolation — a row appended CONCURRENTLY with a matching
        key (a lower sequence than this commit) is superseded by the
        equality delete rather than aborting the merge. The CoW path
        keeps the stricter abort-on-conflict posture.
        """
        if isinstance(source, pa.Table):
            src, n_src = source, source.num_rows
        else:
            src = source.select(*_schema(snap).names).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        try:
            if not isinstance(src, pa.Table):
                n_src = _count_unique_keys(src, join_cols)
            entries = self._write_rows(src, snap)
            key_entries = self._write_rows(src.select(join_cols), snap, spec=[])
        finally:
            if not isinstance(src, pa.Table):
                src.unpersist()
        probes = self._key_probe_hashes(key_entries, join_cols)

        def build(parent: Snapshot) -> Snapshot:
            v = parent.version + 1
            _stamp_sequence(entries, v)
            dels = parent.delete_files + _eq_delete_ops(
                key_entries, join_cols, v, probes
            )
            return new_snapshot(
                parent,
                "merge",
                parent.schema_json,
                parent.partition_spec,
                parent.files + entries,
                parent.properties,
                {
                    "merge-mode": "mor",
                    "source-records": int(n_src),
                    "added-files": len(entries),
                    "equality-delete-files": len(key_entries),
                },
                delete_files=dels,
            )

        return self._commit_with_retry(build, snap)

    def delete_by_keys(
        self, spark: SparkSession, keys: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        """Merge-on-read DELETE by key set: commit ONE equality-delete
        file holding ``keys``' distinct key rows — no data read, no
        rewrite, O(keys) commit (the delete half of a CDC apply; the
        upsert half is ``merge(mode='mor')``). Applies to all files
        with a lower sequence; compaction materializes."""
        head = self.snapshot()
        names = set(_schema(head).names)
        missing = [c for c in key_cols if c not in names]
        if missing:
            raise ValueError(f"key columns not in schema: {missing}")
        key_entries = self._write_data_files(
            keys.select(*key_cols).distinct(), [], head
        )
        probes = self._key_probe_hashes(key_entries, key_cols)

        def build(parent: Snapshot) -> Snapshot:
            dels = parent.delete_files + _eq_delete_ops(
                key_entries, key_cols, parent.version + 1, probes
            )
            return new_snapshot(
                parent,
                "delete",
                parent.schema_json,
                parent.partition_spec,
                parent.files,
                parent.properties,
                {
                    "delete-mode": "mor",
                    "equality-delete-files": len(key_entries),
                    "delete-key-rows": sum(e.rows for e in key_entries),
                },
                delete_files=dels,
            )

        return self._commit_with_retry(build, head)

    def set_partition_spec(self, spec: list[PartitionField]) -> Snapshot:
        """Partition-spec evolution (Iceberg's ``ADD/REPLACE PARTITION
        FIELD``): future writes use the new spec; existing files keep the
        partition values they were written with. Mixed-spec tables plan
        correctly because pruning reads each file's own partition dict
        (a file without a value for a pruned key is simply not pruned by
        it) — same contract as Iceberg spec evolution."""
        head = self.snapshot()
        validate_spec(spec, _schema(head))

        def build(parent: Snapshot) -> Snapshot:
            return new_snapshot(
                parent,
                "evolve-partition",
                parent.schema_json,
                [pf.to_json() for pf in spec],
                parent.files,
                parent.properties,
                {"partition-spec": [pf.to_json() for pf in spec]},
            )

        return self._commit_with_retry(build, head)

    def rollback(self, version: int) -> Snapshot:
        """Roll the table back to a previous snapshot's state (Iceberg's
        ``rollback_to_snapshot``): commits a NEW snapshot that restores the
        old file set, so history stays append-only and time travel over
        the bad snapshots still works until they are expired."""
        target = self.snapshot(version)  # raises if expired/absent

        def build(parent: Snapshot) -> Snapshot:
            return new_snapshot(
                parent,
                "rollback",
                target.schema_json,
                target.partition_spec,
                target.files,
                parent.properties,
                {
                    "rolled-back-to": version,
                    "total-records": target.total_rows,
                },
                delete_predicates=target.delete_predicates,
                delete_files=target.delete_files,
            )

        return self._commit_with_retry(build)

    # ---- named refs: tags (Iceberg's tag refs) ---------------------------

    _TAG_PREFIX = "ref.tag."

    def set_tag(self, name: str, version: int | None = None) -> Snapshot:
        """Tag a snapshot version with a stable name (Iceberg tag refs).

        Tags live in table properties under ``ref.tag.<name>`` and are
        committed through the same atomic metadata path as everything
        else (operation ``set-ref``, row-preserving — incremental scans
        and CDC skip it). ``expire_snapshots`` never expires a tagged
        version, so a tag is also a retention pin — the audit/repro
        handle a training-data pipeline keeps per released dataset.
        """
        if not name or "/" in name or name != name.strip():
            raise ValueError(f"invalid tag name: {name!r}")
        head = self.snapshot()
        target = head.version if version is None else self.snapshot(version).version

        def build(parent: Snapshot) -> Snapshot:
            props = {**parent.properties, self._TAG_PREFIX + name: str(target)}
            return new_snapshot(
                parent,
                "set-ref",
                parent.schema_json,
                parent.partition_spec,
                parent.files,
                props,
                {"tag": name, "tag-version": target},
            )

        return self._commit_with_retry(build, head)

    def remove_tag(self, name: str) -> Snapshot:
        key = self._TAG_PREFIX + name
        head = self.snapshot()
        if key not in head.properties:
            raise KeyError(f"no such tag: {name}")

        def build(parent: Snapshot) -> Snapshot:
            props = {k: v for k, v in parent.properties.items() if k != key}
            return new_snapshot(
                parent,
                "set-ref",
                parent.schema_json,
                parent.partition_spec,
                parent.files,
                props,
                {"tag-removed": name},
            )

        return self._commit_with_retry(build, head)

    def tags(self, snap: Snapshot | None = None) -> dict[str, int]:
        """Tag name → version, as of ``snap`` (default: the head)."""
        props = (self.snapshot() if snap is None else snap).properties
        return {
            k[len(self._TAG_PREFIX):]: int(v)
            for k, v in props.items()
            if k.startswith(self._TAG_PREFIX)
        }

    def resolve_tag(self, name: str) -> int:
        try:
            return self.tags()[name]
        except KeyError:
            raise KeyError(f"no such tag: {name}") from None

    # ---- named refs: branches (Iceberg branch refs) -----------------------
    #
    # A branch is a WRITABLE named ref: a separate metadata chain under
    # <root>/_branch/<name>, seeded from the current main snapshot AT THE
    # SAME VERSION NUMBER, sharing the main table's data area. Any table
    # operation (append, delete, merge, schema evolution) runs on the
    # branch handle; main never sees branch state until
    # ``fast_forward_branch`` replays the branch's commits onto main
    # 1:1 — version numbers and data sequence numbers line up exactly
    # because the chains share a numbering origin, so merge-on-read
    # delete applicability survives the publish unchanged (the property
    # WAP's squash cannot preserve, which is why WAP stays append-only
    # and branches exist). Fast-forward requires main unmoved since the
    # fork (Iceberg's fastForward semantics); a moved main raises
    # ConcurrentModification — re-branch and re-apply (cherry-pick is
    # deliberately out of scope, as in Iceberg's CLI).

    BRANCH_DIR = "_branch"
    _BRANCH_PROPS = ("branch.name", "branch.fork-version")

    # Ref names are path components under <root>/_branch|_wap — whitelist
    # them. The leading [A-Za-z0-9] rejects "." and ".." outright: "name
    # '..'" would otherwise resolve meta_dir to the TABLE ROOT, and the
    # rmtree in fast_forward/abort would delete main's metadata and data.
    # \Z, not $: '$' matches before a trailing newline, so 'exp\n' would
    # pass the whitelist and create a ref directory with a newline in it
    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*\Z")

    @classmethod
    def _validate_ref_name(cls, kind: str, name: str) -> str:
        if (
            not name
            or name in (".", "..")
            or not cls._REF_NAME_RE.match(name)
            or os.sep in name
            or (os.altsep and os.altsep in name)
        ):
            raise ValueError(f"invalid {kind} name: {name!r}")
        return name

    def _shadow_dir_checked(self, shadow_dir: str, name: str) -> str:
        """Resolve <root>/<shadow_dir>/<name>, asserting the realpath is a
        DIRECT child of <root>/<shadow_dir> — the last line of defense
        before any rmtree (a traversal that slipped past name validation
        must never escape the shadow area)."""
        d = os.path.join(self.root, shadow_dir, name)
        base = os.path.realpath(os.path.join(self.root, shadow_dir))
        if os.path.dirname(os.path.realpath(d)) != base:
            raise ValueError(
                f"ref dir {d!r} escapes {shadow_dir!r} — refusing"
            )
        return d

    def _all_chain_live_paths(
        self, exclude_meta_dirs: set[str] | None = None
    ) -> set[str]:
        """Every data/delete-file path referenced by ANY metadata chain of
        this table — the MAIN chain plus every WAP stage and branch —
        except chains whose meta_dir is in ``exclude_meta_dirs``. This is
        the protective set behind ``abort_branch``/``abort_wap`` and the
        maintenance sweeps: a path listed here is live on some chain (e.g.
        main after a crashed partial fast-forward already references a
        prefix of a branch's files) and must never be deleted."""
        from iceberg_loader_spark.tables.format import (
            META_DIR,
            LocalFSBackend,
            TableMetadata,
        )

        exclude = {
            os.path.realpath(d) for d in (exclude_meta_dirs or ())
        }
        chain_dirs = [os.path.join(self.root, META_DIR)]
        for shadow_dir in (self.WAP_DIR, self.BRANCH_DIR):
            shadow_root = os.path.join(self.root, shadow_dir)
            if os.path.isdir(shadow_root):
                chain_dirs += [
                    os.path.join(shadow_root, n)
                    for n in os.listdir(shadow_root)
                ]
        live: set[str] = set()
        for d in chain_dirs:
            if os.path.realpath(d) in exclude:
                continue
            backend = LocalFSBackend(self.root, meta_dir=d)
            if not backend.exists():
                continue
            live |= live_paths(TableMetadata(self.root, backend=backend).snapshots())
        return live

    def create_branch(self, name: str) -> "Table":
        """Fork a writable branch of the current snapshot."""
        from iceberg_loader_spark.tables.format import LocalFSBackend

        self._validate_ref_name("branch", name)
        meta_dir = self._shadow_dir_checked(self.BRANCH_DIR, name)
        backend = LocalFSBackend(self.root, meta_dir=meta_dir)
        if backend.exists():
            raise FileExistsError(f"branch {name!r} already exists")
        snap = self.snapshot()
        seed = replace(
            snap,
            snapshot_id=uuid.uuid4().hex,
            operation="branch-fork",
            properties={
                **snap.properties,
                "branch.name": name,
                "branch.fork-version": str(snap.version),
            },
            summary={"branch-forked-from": snap.version},
        )
        shadow = Table.__new__(Table)
        shadow.warehouse = self.warehouse
        shadow.identifier = f"{self.identifier}@branch/{name}"
        shadow.root = self.root
        shadow.meta = TableMetadata(self.root, backend=backend)
        shadow.meta.commit(seed, expected_parent=None)
        return shadow

    def branch(self, name: str) -> "Table":
        """Reopen an existing branch handle."""
        from iceberg_loader_spark.tables.format import LocalFSBackend

        self._validate_ref_name("branch", name)
        meta_dir = self._shadow_dir_checked(self.BRANCH_DIR, name)
        backend = LocalFSBackend(self.root, meta_dir=meta_dir)
        if not backend.exists():
            raise KeyError(f"no such branch: {name}")
        shadow = Table.__new__(Table)
        shadow.warehouse = self.warehouse
        shadow.identifier = f"{self.identifier}@branch/{name}"
        shadow.root = self.root
        shadow.meta = TableMetadata(self.root, backend=backend)
        return shadow

    def list_branches(self) -> list[str]:
        d = os.path.join(self.root, self.BRANCH_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))
        )

    def fast_forward_branch(self, shadow: "Table") -> Snapshot:
        """Replay the branch's commits onto main, one snapshot per
        commit (true fast-forward: identical versions, sequences, and
        per-commit history — a time traveler cannot tell the commits
        came through a branch). Branch marker properties are stripped;
        the branch chain is removed on success."""
        import shutil

        props = shadow.properties()
        name = props.get("branch.name")
        fork_v = int(props.get("branch.fork-version", "-1"))
        if name is None or fork_v < 0:
            raise ValueError("not a branch table")
        head = shadow.snapshot()
        parent = self.snapshot()
        main_v = parent.version
        resume_from = fork_v
        if main_v != fork_v:
            # RESUME path: a crashed (or duplicated) fast-forward may have
            # already replayed a prefix of the branch onto main. If every
            # main commit past the fork IS the corresponding branch commit
            # (same snapshot_id), continue the replay after it — the
            # publish is prefix-durable and idempotent, never partial-lost.
            # Anything else on main is a real concurrent commit: abort.
            if main_v > head.version:
                raise ConcurrentModification(
                    f"main table advanced to v{main_v} past branch "
                    f"{name!r} head v{head.version}; re-branch and re-apply"
                )
            for v in range(fork_v + 1, main_v + 1):
                if self.snapshot(v).snapshot_id != shadow.snapshot(v).snapshot_id:
                    raise ConcurrentModification(
                        f"main table advanced to v{main_v} past branch "
                        f"fork v{fork_v} with foreign commits; re-branch "
                        f"and re-apply"
                    )
            resume_from = main_v
        for v in range(resume_from + 1, head.version + 1):
            s = shadow.snapshot(v)
            clean = {
                k: val
                for k, val in s.properties.items()
                if k not in self._BRANCH_PROPS
            }
            try:
                parent = self.meta.commit(
                    replace(s, properties=clean), expected_parent=parent
                )
            except CommitConflict as e:
                raise ConcurrentModification(
                    f"main table advanced during fast-forward of branch "
                    f"{name!r} at v{v}: {e}"
                ) from e
        shutil.rmtree(
            self._shadow_dir_checked(self.BRANCH_DIR, name),
            ignore_errors=True,
        )
        return parent

    def abort_branch(self, shadow: "Table") -> dict:
        """Discard a branch: delete data files it added since the fork
        (files present in any branch snapshot but not in the fork
        snapshot) and remove its metadata chain.

        A path is deleted ONLY if no OTHER metadata chain references it:
        after a crashed partial ``fast_forward_branch`` (the publish is
        documented as prefix-durable with a resume path), MAIN already
        references a prefix of the branch commits' files — aborting at
        that point must not remove files live on main. Other branches /
        WAP stages forked after those commits are protected the same way."""
        import shutil

        props = shadow.properties()
        name = props.get("branch.name")
        fork_v = int(props.get("branch.fork-version", "-1"))
        if name is None or fork_v < 0:
            raise ValueError("not a branch table")
        branch_dir = self._shadow_dir_checked(self.BRANCH_DIR, name)
        protected = live_paths([self.snapshot(fork_v)]) | self._all_chain_live_paths(
            exclude_meta_dirs={branch_dir}
        )
        removed = discard_files(self.root, live_paths(shadow.history()) - protected)
        shutil.rmtree(branch_dir, ignore_errors=True)
        return {"removed_files": removed}

    def cherry_pick(
        self, shadow: "Table", version: int | None = None
    ) -> Snapshot:
        """Apply ONE append commit from a (possibly diverged) branch onto
        the CURRENT main head — Iceberg's ``cherrypick_snapshot``, for
        the case fast-forward cannot handle: main advanced past the fork
        with its own commits.

        Only ``append`` snapshots are cherry-pickable (Iceberg limits
        cherry-pick to appends and dynamic overwrites for the same
        reason): a row-level delete/merge's effect depends on the
        sequence ordering of the chain it was recorded on, so replaying
        it onto a diverged chain would silently change its meaning.

        Data sequence semantics: the picked files are re-stamped with
        the NEW main version, so merge-on-read predicates recorded on
        main BETWEEN the fork and the cherry-pick do NOT apply to the
        picked rows (they are newer data — exactly Iceberg's
        sequence-number inheritance on cherry-pick). The data files are
        shared with the branch (same data area), never copied; a later
        ``abort_branch`` keeps them alive because the main chain now
        references them (`_all_chain_live_paths`).

        Replay guard: the source snapshot_id is recorded in the commit
        summary (``cherry-pick-source``); picking the same snapshot
        twice raises instead of double-appending the files."""
        props = shadow.properties()
        if props.get("branch.name") is None:
            raise ValueError("not a branch table")
        fork_v = int(props.get("branch.fork-version", "-1"))
        s = shadow.snapshot(version)
        if s.version <= fork_v:
            # pre-fork snapshots are SHARED with main: re-adding their
            # files would double-count every row they contain
            raise ValueError(
                f"branch v{s.version} predates the fork (v{fork_v}) — "
                "its files are already on main"
            )
        if s.operation != "append":
            raise ValueError(
                f"cherry-pick supports append snapshots only, got "
                f"{s.operation!r} at v{s.version}"
            )
        parent = (
            shadow.snapshot(s.parent_version)
            if s.parent_version is not None
            else None
        )
        parent_paths = {f.path for f in parent.files} if parent else set()
        added = [f for f in s.files if f.path not in parent_paths]
        added_rows = sum(f.rows for f in added)

        def build(main_head: Snapshot) -> Snapshot:
            # replay guard INSIDE build: a CAS-conflict retry (e.g. two
            # clients racing the same pick through the shared catalog)
            # re-runs build against the refreshed head, and must see the
            # winner's cherry-pick-source marker — checking only once
            # before the commit loop would double-apply the files
            for prior in self.history():
                if prior.summary.get("cherry-pick-source") == s.snapshot_id:
                    raise ValueError(
                        f"snapshot {s.snapshot_id} (branch v{s.version}) "
                        f"was already cherry-picked onto main "
                        f"v{prior.version}"
                    )
            if main_head.schema_json != s.schema_json:
                raise ValueError(
                    "cherry-pick schema mismatch: branch snapshot was "
                    "written under a different schema than main's head"
                )
            if main_head.partition_spec != s.partition_spec:
                raise ValueError(
                    "cherry-pick partition-spec mismatch between branch "
                    "snapshot and main head"
                )
            new_files = [
                replace(f, sequence=main_head.version + 1) for f in added
            ]
            return new_snapshot(
                main_head,
                "append",
                main_head.schema_json,
                main_head.partition_spec,
                main_head.files + new_files,
                main_head.properties,
                {
                    "added-files": len(added),
                    "added-records": added_rows,
                    "total-records": main_head.total_rows + added_rows,
                    "cherry-pick-source": s.snapshot_id,
                },
            )

        return self._commit_with_retry(build)

    # ---- write-audit-publish (append-only staging) -----------------------

    WAP_DIR = "_wap"

    def begin_wap(self, wap_id: str | None = None) -> "Table":
        """Start a write-audit-publish stage: returns a SHADOW table
        sharing this table's root and current snapshot, with its own
        metadata chain under ``<root>/_wap/<id>``. Appends to the shadow
        write real data files (into the shared ``data/`` area) that the
        MAIN table cannot see; audit them with ``shadow.scan`` (e.g.
        ``quality.Check``), then :meth:`publish_wap` to land everything
        staged as ONE atomic commit on the main table — or
        :meth:`abort_wap` to discard files and metadata.

        Staging is APPEND-ONLY (the audit-before-publish use case);
        row-level ops on a shadow are rejected at publish because their
        sequence ordering cannot be preserved through a squash.
        """
        from iceberg_loader_spark.tables.format import LocalFSBackend

        wap_id = wap_id or uuid.uuid4().hex[:12]
        self._validate_ref_name("wap id", wap_id)
        meta_dir = self._shadow_dir_checked(self.WAP_DIR, wap_id)
        backend = LocalFSBackend(self.root, meta_dir=meta_dir)
        if backend.exists():
            raise FileExistsError(f"wap stage {wap_id!r} already exists")
        snap = self.snapshot()
        shadow = Table.__new__(Table)
        shadow.warehouse = self.warehouse
        shadow.identifier = f"{self.identifier}@wap/{wap_id}"
        shadow.root = self.root
        shadow.meta = TableMetadata(self.root, backend=backend)
        seed = Snapshot(
            version=1,
            snapshot_id=uuid.uuid4().hex,
            parent_version=None,
            timestamp_ms=snap.timestamp_ms,
            operation="wap-fork",
            schema_json=snap.schema_json,
            partition_spec=snap.partition_spec,
            files=snap.files,
            properties={
                **snap.properties,
                "wap.id": wap_id,
                "wap.fork-version": str(snap.version),
            },
            summary={"wap-forked-from": snap.version},
            delete_predicates=snap.delete_predicates,
            delete_files=snap.delete_files,
        )
        shadow.meta.commit(seed, expected_parent=None)
        return shadow

    def publish_wap(self, shadow: "Table") -> Snapshot:
        """Land a shadow stage's appended files on the main table as one
        atomic commit (fast-forward: fails with
        :class:`ConcurrentModification` if the main table advanced past
        the fork point — re-stage against the new current). Cleans up
        the shadow metadata on success."""
        import shutil

        props = shadow.properties()
        wap_id = props.get("wap.id")
        fork_v = int(props.get("wap.fork-version", "-1"))
        if wap_id is None or fork_v < 0:
            raise ValueError("not a wap shadow table")
        for s in shadow.history():
            if s.operation not in ("wap-fork", "append"):
                raise ValueError(
                    f"wap staging is append-only; shadow contains "
                    f"'{s.operation}' — run row-level ops on the main "
                    f"table instead"
                )
        sh = shadow.snapshot()
        fork = self.snapshot(fork_v)
        fork_paths = {f.path for f in fork.files}
        staged = [f for f in sh.files if f.path not in fork_paths]
        staged_rows = sum(f.rows for f in staged)

        def build(parent: Snapshot) -> Snapshot:
            if parent.version != fork_v:
                raise ConcurrentModification(
                    f"main table advanced to v{parent.version} past wap "
                    f"fork v{fork_v}; re-stage and re-audit"
                )
            _stamp_sequence(staged, parent.version + 1)
            return new_snapshot(
                parent,
                "append",
                parent.schema_json,
                parent.partition_spec,
                parent.files + staged,
                parent.properties,
                {
                    "wap-published": wap_id,
                    "added-files": len(staged),
                    "added-records": staged_rows,
                    "total-records": parent.total_rows + staged_rows,
                },
            )

        snap = self._commit_with_retry(build, fork)
        shutil.rmtree(
            os.path.join(self.root, self.WAP_DIR, wap_id), ignore_errors=True
        )
        return snap

    def abort_wap(self, shadow: "Table") -> dict:
        """Discard a stage: delete its staged data files (the ones not in
        the fork snapshot) and its metadata chain."""
        import shutil

        props = shadow.properties()
        wap_id = props.get("wap.id")
        fork_v = int(props.get("wap.fork-version", "-1"))
        if wap_id is None or fork_v < 0:
            raise ValueError("not a wap shadow table")
        wap_dir = self._shadow_dir_checked(self.WAP_DIR, wap_id)
        # same protection as abort_branch: a path referenced by MAIN or
        # any other chain (e.g. a crashed publish already landed it, or a
        # branch forked after the stage's files were published) is live
        protected = live_paths([self.snapshot(fork_v)]) | self._all_chain_live_paths(
            exclude_meta_dirs={wap_dir}
        )
        removed = discard_files(self.root, live_paths(shadow.history()) - protected)
        shutil.rmtree(wap_dir, ignore_errors=True)
        return {"removed_files": removed}

    # ---- metadata tables (Iceberg's `tbl.snapshots` / `tbl.files`) -------

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """History as a DataFrame — the `tbl.snapshots` metadata table."""
        rows = [
            (
                s.version,
                s.snapshot_id,
                s.parent_version,
                s.timestamp_ms,
                s.operation,
                len(s.files),
                s.total_rows,
                len(s.delete_predicates),
                len(s.delete_files),
            )
            for s in self.history()
        ]
        return spark.createDataFrame(
            rows,
            "version int, snapshot_id string, parent_version int, "
            "timestamp_ms long, operation string, n_files int, "
            "total_rows long, n_delete_predicates int, n_delete_files int",
        )

    def files_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current (or given) snapshot's file manifest as a DataFrame —
        the `tbl.files` metadata table (path, rows, bytes, partition)."""
        snap = self.snapshot(version)
        rows = [
            (
                f.path,
                f.rows,
                f.bytes,
                json.dumps(f.partition, sort_keys=True),
                f.sequence,
            )
            for f in snap.files
        ]
        return spark.createDataFrame(
            rows,
            "path string, rows long, bytes long, partition_json string, "
            "sequence int",
        )

    def partitions_df(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Per-partition rollup of the file manifest — the
        `tbl.partitions` metadata table (partition values, file count,
        row and byte totals). Unpartitioned tables report one row with
        the empty partition tuple ``{}``."""
        snap = self.snapshot(version)
        agg: dict[str, list] = {}
        for f in snap.files:
            key = json.dumps(f.partition, sort_keys=True)
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += f.rows
            cur[2] += f.bytes
        rows = [
            (k, v[0], v[1], v[2]) for k, v in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition_json string, n_files long, rows long, bytes long",
        )

    # ---- schema evolution (SURVEY A28) -----------------------------------

    def add_columns(self, new_fields: list[T.StructField]) -> Snapshot:
        """Add-only evolution; new columns are nullable (core/schema.py:73-77).

        The evolved schema is recomputed from the PARENT inside the
        commit closure, not from the client's cached view: on a CAS
        conflict the retry rebases onto whatever another writer just
        committed, and a stale precomputed schema would (a) re-commit an
        evolution a concurrent writer already made (duplicate
        evolve-schema snapshots) or (b) silently drop columns that
        writer added (schema regression). Computing ``to_add`` against
        ``parent.schema_json`` makes the concurrent-evolve race converge
        to exactly one commit per distinct column set.
        """
        head = self.snapshot()
        names = set(_schema(head).names)
        if all(f.name in names for f in new_fields):
            return head

        def build(parent: Snapshot) -> Snapshot:
            pschema = _schema(parent)
            existing = set(pschema.names)
            to_add = [f for f in new_fields if f.name not in existing]
            if not to_add:
                # a concurrent writer added every requested column while
                # we were racing — nothing to commit on this parent
                raise _NothingToCommit(parent)
            evolved = T.StructType(
                pschema.fields
                + [T.StructField(f.name, f.dataType, True) for f in to_add]
            )
            return new_snapshot(
                parent,
                "evolve-schema",
                evolved.jsonValue(),
                parent.partition_spec,
                parent.files,
                parent.properties,
                {"added-columns": [f.name for f in to_add]},
            )

        try:
            return self._commit_with_retry(build, head)
        except _NothingToCommit as done:
            return done.snapshot

    def drop_columns(self, cols: list[str]) -> Snapshot:
        """Drop-column evolution (metadata-only): the new schema omits
        the columns; existing files are untouched — parquet by-name
        resolution simply stops projecting the dropped columns, so the
        commit is O(1) at any table size. Columns load-bearing for the
        table's physics are protected: partition sources, the standing
        write sort order, and key columns of PENDING equality-delete
        files cannot be dropped (compact first)."""
        head = self.snapshot()
        schema = _schema(head)
        names = set(schema.names)
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"no such columns: {missing}")
        drop = set(cols)
        if drop >= names:
            raise ValueError("cannot drop every column")
        protected: dict[str, str] = {}
        for pf in _spec(head):
            protected[pf.source] = "partition source"
        for c in _sort_order(head) or []:
            protected.setdefault(c, "write.sort-order")
        for d in head.delete_files:
            for c in d["equality_cols"]:
                protected.setdefault(c, "pending equality-delete key")
        blocked = {c: protected[c] for c in drop if c in protected}
        if blocked:
            raise ValueError(f"cannot drop load-bearing columns: {blocked}")
        evolved = T.StructType(
            [f for f in schema.fields if f.name not in drop]
        )

        def build(parent: Snapshot) -> Snapshot:
            return new_snapshot(
                parent,
                "evolve-schema",
                evolved.jsonValue(),
                parent.partition_spec,
                parent.files,
                parent.properties,
                {"dropped-columns": sorted(drop)},
            )

        return self._commit_with_retry(build, head)

    # type promotions Spark's parquet reader widens transparently
    _PROMOTIONS = {
        ("integer", "long"): True,
        ("float", "double"): True,
    }

    def promote_column_type(self, col: str, new_type: T.DataType) -> Snapshot:
        """Type-widening evolution (Iceberg's int→long / float→double):
        metadata-only — old files keep their narrow physical type and
        Spark's parquet reader up-casts them at scan; new writes use the
        wide type. Only lossless promotions are allowed."""
        head = self.snapshot()
        schema = _schema(head)
        field = next((f for f in schema.fields if f.name == col), None)
        if field is None:
            raise ValueError(f"no such column: {col}")
        key = (field.dataType.typeName(), new_type.typeName())
        if not self._PROMOTIONS.get(key):
            raise ValueError(
                f"unsupported promotion {field.dataType.simpleString()} -> "
                f"{new_type.simpleString()} (allowed: int->long, "
                f"float->double)"
            )
        evolved = T.StructType(
            [
                T.StructField(f.name, new_type if f.name == col else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

        def build(parent: Snapshot) -> Snapshot:
            return new_snapshot(
                parent,
                "evolve-schema",
                evolved.jsonValue(),
                parent.partition_spec,
                parent.files,
                parent.properties,
                {"promoted-column": col, "to-type": new_type.simpleString()},
            )

        return self._commit_with_retry(build, head)
