"""``spark.read.format("sparkberg")`` — the table format as a Spark
Python Data Source (SPARK-44076, Spark 4.x API).

The reference library exposes its tables to Spark only through an
external Trino/Hive/MinIO stack (``/root/reference/examples/
docker-compose.yml:1-61``); in-process it is a pure PyArrow API. This
module closes that interop gap natively: the engine's snapshot-versioned
table format registers as a first-class Spark data source, so ANY Spark
job — not just code importing :class:`~iceberg_loader_spark.tables.table
.Table` — can read and append with the ordinary reader/writer API::

    spark.dataSource.register(SparkbergDataSource)
    df = (spark.read.format("sparkberg")
          .option("version", 3)          # or tag=..., as_of_ms=...
          .load("/warehouse/db/events"))
    df2.write.format("sparkberg").mode("append").save("/warehouse/db/events")

Read path
---------
* snapshot resolution: ``version`` / ``tag`` / ``as_of_ms`` options —
  the same time-travel surface as :meth:`Table.scan`.
* filter pushdown (``pushFilters``): supported comparisons are turned
  into the engine's :class:`~iceberg_loader_spark.tables.filters.Term`
  form and prune manifest entries by partition values + column min/max
  BEFORE any file is opened. Every filter is also handed back to Spark
  unhandled, so row-level semantics never depend on pruning quality —
  the same conservative contract ``Table.scan`` keeps.
* one :class:`InputPartition` per data file; executors read the file
  with PyArrow and emit Arrow record batches cast to the snapshot
  schema (schema-evolution NULL fill for late-added columns, like the
  DataFrame scan path).
* v1 boundary: snapshots with PENDING merge-on-read deletes
  (``delete_predicates`` / ``delete_files`` / positional deletes) are
  refused with a clear error — read those through ``Table.scan`` (which
  applies them) or compact first. A connector silently disagreeing with
  the engine about MoR semantics would be worse than the error.

Write path
----------
* ``mode("append")`` / ``mode("overwrite")`` on UNPARTITIONED tables
  (partitioned writes need the engine's transform evaluation — use
  ``Table.append``); auto-creates the table when the root has none.
* executors stream Arrow batches straight to parquet files in a
  per-write staging directory under the table root (zstd by default,
  honoring ``write.parquet.compression-codec``); the driver commit
  reads ONLY the files named in successful task commit messages (so
  speculative/failed task leftovers are ignored and swept), builds
  manifest entries with footer min/max stats, and commits through the
  table's optimistic CAS retry loop — a concurrent engine-side append
  and a connector write serialize cleanly.

Scale: planning is O(manifest) on the driver — identical to the
DataFrame scan path; data never moves through the driver. The
per-file-per-task read fans out across executors exactly like a native
parquet scan (minus whole-stage codegen: this is the interop surface,
not the fast path — ``Table.scan`` remains the performance read path).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from iceberg_loader_spark.tables.catalog import Warehouse
from iceberg_loader_spark.tables.filters import Term, file_may_match
from iceberg_loader_spark.tables.format import CommitConflict
from iceberg_loader_spark.tables.partitioning import PartitionField

FORMAT_NAME = "sparkberg"


def _open_table(root: str):
    """Open the table at ``root`` via a single-table Warehouse view."""
    from iceberg_loader_spark.tables.table import Table

    root = os.path.abspath(root)
    wh = Warehouse(os.path.dirname(root))
    return Table(wh, os.path.basename(root))


def _table_root(options) -> str:
    """Resolve the table root from either addressing style:

    * ``.load(<root>)`` / ``.save(<root>)`` — the path IS the root;
    * ``.option("warehouse", dir).option("table", "db.events")`` — the
      identifier addressing the engine API uses (reference-style
      ``load_data_to_iceberg(..., "db.events")`` ergonomics).
    """
    path = options.get("path")
    wh_dir = options.get("warehouse")
    ident = options.get("table")
    if (wh_dir is None) != (ident is None):
        raise ValueError(
            "sparkberg: warehouse and table options go together"
        )
    if wh_dir is not None:
        if path:
            raise ValueError(
                "sparkberg: give either .load/.save(<root>) or "
                "warehouse+table options, not both"
            )
        return Warehouse(wh_dir).table_root(ident)
    if not path:
        raise ValueError(
            "sparkberg: .load/.save(<table root path>) or "
            "warehouse+table options required"
        )
    return path


def _resolve_snapshot(root: str, options):
    table = _open_table(root)
    version = options.get("version")
    tag = options.get("tag")
    as_of = options.get("as_of_ms")
    branch = options.get("branch")
    if sum(x is not None for x in (version, tag, as_of, branch)) > 1:
        raise ValueError(
            "version, tag, as_of_ms and branch are mutually exclusive"
        )
    if branch is not None:
        # branch refs share the data area; the branch chain's head is a
        # plain snapshot, so the scan path is identical. branch_version
        # is the schema()-pinned resolution (internal — set below), kept
        # separate from `version` because it indexes the BRANCH chain.
        shadow = table.branch(branch)
        bv = options.get("branch_version")
        return shadow, shadow.snapshot(None if bv is None else int(bv))
    if tag is not None:
        return table, table.snapshot(table.resolve_tag(tag))
    if as_of is not None:
        return table, table.meta.snapshot_as_of(int(as_of))
    return table, table.snapshot(None if version is None else int(version))


_FILTER_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}


def _filter_to_term(f) -> Term | None:
    """Supported pushed filter -> pruning Term; None = no pruning info."""
    op = _FILTER_OPS.get(type(f))
    if op is None or len(f.attribute) != 1:
        return None
    value = tuple(f.value) if op == "in" else f.value
    scalars = value if op == "in" else (value,)
    if not all(isinstance(v, (str, int, float, bool)) for v in scalars):
        return None  # dates/decimals arrive as objects; stats are JSON scalars
    return Term(col=f.attribute[0], op=op, value=value)


@dataclass
class _FilePartition(InputPartition):
    path: str  # absolute parquet path


def _read_file_as_batches(path: str, schema: T.StructType):
    """One parquet file -> Arrow batches cast to the snapshot schema
    (schema-evolution NULL fill for columns added after the file).
    Streams batch-by-batch — peak memory is one Arrow batch, not the
    file, so a 1 GB data file never materializes in the Python worker."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    read_cols = [f.name for f in target if f.name in present]
    for b in pf.iter_batches(columns=read_cols):
        cols = []
        for field in target:
            if field.name in present:
                cols.append(b.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(b.num_rows, field.type))
        yield pa.RecordBatch.from_arrays(cols, schema=target)


class _SparkbergReaderBase(DataSourceReader):
    def __init__(self, schema: T.StructType, options):
        table, snap = _resolve_snapshot(_table_root(options), options)
        pending = list(snap.delete_predicates) + list(snap.delete_files)
        if pending:
            raise ValueError(
                "sparkberg: snapshot has pending merge-on-read deletes; "
                "read via Table.scan (applies them) or run "
                "rewrite_data_files() to materialize, then retry"
            )
        self._root = table.root
        self._schema = schema
        self._files = snap.files
        self._spec = [PartitionField.from_json(d) for d in snap.partition_spec]
        self._terms: list[Term] = []

    def partitions(self):
        files = [
            f
            for f in self._files
            if file_may_match(self._terms, f, self._spec)
        ]
        return [
            _FilePartition(os.path.join(self._root, f.path)) for f in files
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _read_file_as_batches(partition.path, self._schema)


class SparkbergReader(_SparkbergReaderBase):
    """Reader WITH filter pushdown. Spark refuses any reader overriding
    ``pushFilters`` unless ``spark.sql.python.filterPushdown.enabled``
    is true (the engine's :func:`get_spark` sets it; :func:`register`
    sets it too), so the no-pushdown variant below exists for vanilla
    sessions via ``.option("pushdown", "false")``."""

    def pushFilters(self, filters):
        for f in filters:
            term = _filter_to_term(f)
            if term is not None:
                self._terms.append(term)
            # hand every filter back: pruning is metadata-only, Spark
            # keeps the row-level evaluation (Table.scan's contract)
            yield f


class SparkbergReaderNoPushdown(_SparkbergReaderBase):
    """No ``pushFilters`` override — works under any session conf; file
    pruning simply has no filter information (full-manifest scan)."""


# ---- streaming tail --------------------------------------------------------

# snapshots that change bytes/metadata but never rows — safe to skip in
# an append-tail walk (same set Table.scan_incremental skips)
_ROW_PRESERVING_OPS = {
    "create",
    "replace",
    "evolve-schema",
    "evolve-partition",
    "set-ref",
}


def _appended_files(table, from_v: int, to_v: int) -> list:
    """Data files ADDED by append snapshots in (from_v, to_v] — the
    file-diff walk of Table.scan_incremental, metadata-only."""
    out = []
    versions = sorted(
        v for v in table.meta.list_versions() if from_v < v <= to_v
    )
    for v in versions:
        snap = table.snapshot(v)
        if snap.operation in _ROW_PRESERVING_OPS:
            continue
        if snap.operation == "branch-fork":
            # a branch chain's seed: its files ARE the backfill batch
            # (its parent_version points into MAIN's chain, which this
            # handle cannot resolve — and must not: the fork content is
            # exactly what a from-zero branch tail should emit first)
            out.extend(snap.files)
            continue
        if snap.operation != "append":
            raise ValueError(
                f"sparkberg stream reads an append-only tail; snapshot "
                f"{v} is '{snap.operation}' — consume row-level changes "
                f"via Table.changes (CDC) instead"
            )
        if snap.parent_version is None:
            parent_paths: set[str] = set()
        else:
            try:
                parent_paths = {
                    f.path
                    for f in table.snapshot(snap.parent_version).files
                }
            except FileNotFoundError:
                raise ValueError(
                    f"sparkberg stream: history expired — parent manifest "
                    f"v{snap.parent_version} of snapshot {v} was removed by "
                    f"expire_snapshots; restart the stream from a retained "
                    f"snapshot (starting_version >= {v}) or 'latest'"
                ) from None
        out.extend(f for f in snap.files if f.path not in parent_paths)
    return out


class SparkbergStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("sparkberg")`` — the table's append log
    as a Structured Streaming source. Offsets are SNAPSHOT VERSIONS:
    each micro-batch reads exactly the files appended in
    (start.version, end.version], so replayed batches
    (``partitions(start, end)`` after recovery) are deterministic and
    the stream is exactly-once end-to-end when the sink is.

    ``starting_version`` option: ``0`` (default — full backfill: the
    existing table is batch one) or ``"latest"`` (only appends after
    stream start) or any snapshot version.

    Scale: offset discovery is O(manifest) driver-side metadata (same
    as any table-format streaming source); file reads fan out across
    executors via one InputPartition per appended file. Non-append
    snapshots in the tail (overwrite/delete/merge) fail the stream with
    a pointer to the CDC reader — a silent skip would drop or
    double-count rows.
    """

    def __init__(self, schema: T.StructType, options):
        table = _open_table(_table_root(options))
        # .option("branch", name): tail the BRANCH chain's append log —
        # offsets are branch versions; lets a pipeline consume staged
        # micro-batches before (or instead of) the fast-forward publish
        self._branch = options.get("branch")
        if self._branch is not None:
            table = table.branch(self._branch)
        self._root = table.root
        self._schema = schema
        sv = str(options.get("starting_version", "0"))
        cur = table.snapshot().version
        self._initial = cur if sv == "latest" else int(sv)

    def _table(self):
        table = _open_table(self._root)
        return table.branch(self._branch) if self._branch else table

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        # O(1) pointer read per trigger — no manifest load
        return {"version": self._table().meta.current_version()}

    def partitions(self, start: dict, end: dict):
        table = self._table()
        files = _appended_files(table, start["version"], end["version"])
        return [
            _FilePartition(os.path.join(self._root, f.path)) for f in files
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _read_file_as_batches(partition.path, self._schema)

    def commit(self, end: dict) -> None:
        pass  # retention is the table's expire_snapshots policy


@dataclass
class _WriteMessage(WriterCommitMessage):
    rel_paths: tuple  # files THIS successful task wrote (root-relative)


def _entry_for_file(root: str, rel_path: str):
    """Footer-read one written file into a manifest entry — the SAME
    fold the engine write path uses (tables/table.py:entry_from_footer),
    so connector- and engine-written files carry identical stats."""
    from iceberg_loader_spark.tables.table import entry_from_footer

    return entry_from_footer(os.path.join(root, rel_path), rel_path)


class SparkbergWriter(DataSourceArrowWriter):
    def __init__(self, schema: T.StructType, options, overwrite: bool):
        from iceberg_loader_spark.tables.table import _codec, _schema

        self._overwrite = overwrite
        # .option("branch", name): commits land on the branch's metadata
        # chain (Iceberg's write-to-branch / spark.wap.branch pattern) —
        # the data area is shared, main stays frozen until fast-forward.
        # The branch must already exist (Table.create_branch); a missing
        # chain fails loudly here, never silently writes to main.
        self._branch = options.get("branch")
        table = self._ensure_table(
            os.path.abspath(_table_root(options)), schema
        )
        if self._branch is not None:
            table = table.branch(self._branch)
        self._root = table.root
        head = table.snapshot()
        if head.partition_spec:
            raise NotImplementedError(
                "sparkberg writer supports unpartitioned tables; use "
                "Table.append for partition-transform writes"
            )
        table_schema = [(f.name, f.dataType) for f in _schema(head).fields]
        df_schema = [(f.name, f.dataType) for f in schema.fields]
        if df_schema != table_schema:
            raise ValueError(
                f"sparkberg: dataframe schema {df_schema} != table "
                f"schema {table_schema} (a name- or type-mismatched "
                f"append would poison every later read)"
            )
        self._codec = _codec(head)
        self._staging_rel = f"data/ds-{uuid.uuid4().hex}"

    def _commit_table(self):
        """The table handle commits go through — the branch chain when
        .option("branch", …) was given, else the main chain."""
        table = _open_table(self._root)
        return table.branch(self._branch) if self._branch else table

    @staticmethod
    def _ensure_table(root: str, schema: T.StructType):
        from iceberg_loader_spark.tables.table import Table

        wh = Warehouse(os.path.dirname(root))
        identifier = os.path.basename(root)
        if not wh.table_exists(identifier):
            try:
                return Table.create(wh, identifier, schema)
            except (FileExistsError, CommitConflict):
                pass  # lost the create race; the winner's table is fine
        return Table(wh, identifier)

    def write(self, iterator) -> _WriteMessage:
        import pyarrow.parquet as pq

        # stream batch-by-batch into the parquet writer — peak memory is
        # one Arrow batch, never the whole task partition
        writer = None
        rel = f"{self._staging_rel}/task-{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(self._root, rel)
        rows = 0
        try:
            for b in iterator:
                if b.num_rows == 0:
                    continue
                if writer is None:
                    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
                    writer = pq.ParquetWriter(
                        abs_path, b.schema, compression=self._codec
                    )
                writer.write_batch(b)
                rows += b.num_rows
        finally:
            if writer is not None:
                writer.close()
        if rows == 0:
            return _WriteMessage(rel_paths=())
        return _WriteMessage(rel_paths=(rel,))

    def commit(self, messages) -> None:
        from iceberg_loader_spark.tables.table import (
            _append_build,
            _overwrite_build,
        )

        committed = [
            p for m in messages if m is not None for p in m.rel_paths
        ]
        entries = [_entry_for_file(self._root, p) for p in committed]
        build = _overwrite_build if self._overwrite else _append_build
        self._commit_table()._commit_with_retry(build(entries))
        self._sweep_staging(keep={p for p in committed})

    def abort(self, messages) -> None:
        shutil.rmtree(
            os.path.join(self._root, self._staging_rel), ignore_errors=True
        )

    def _sweep_staging(self, keep: set) -> None:
        """Remove speculative/failed-task leftovers not in any commit
        message (best-effort — they are orphans, never referenced)."""
        staging_abs = os.path.join(self._root, self._staging_rel)
        try:
            for fn in os.listdir(staging_abs):
                rel = f"{self._staging_rel}/{fn}"
                if rel not in keep:
                    os.unlink(os.path.join(staging_abs, fn))
            if not keep:
                os.rmdir(staging_abs)
        except OSError:
            pass


class SparkbergStreamWriter(SparkbergWriter, DataSourceStreamArrowWriter):
    """Native exactly-once streaming sink: ``df.writeStream
    .format("sparkberg")`` — the DataSource-API twin of
    ``streaming/sink.IdempotentTableSink``.

    Exactly-once recipe (same as the foreachBatch sink): the micro-batch
    id is committed into the table's properties ATOMICALLY with the data
    snapshot; ``commit`` compares the incoming batch id against the last
    committed marker and a replayed batch deletes its own staged files
    and commits nothing. Task files are staged under unique names, so
    speculative/failed tasks never collide; files not referenced by any
    commit message are orphans the maintenance sweep removes.

    Scale: identical write path to the batch writer — executors stream
    Arrow batches straight into parquet (one batch in memory per task),
    the driver folds footers into manifest entries, and the marker is
    O(1) table-property metadata per micro-batch.
    """

    def __init__(self, schema: T.StructType, options):
        super().__init__(schema, options, overwrite=False)
        # distinct concurrent streams into ONE table must use distinct
        # markers (same isolation rule as IdempotentTableSink.marker_key);
        # a RESTARTED query must keep its marker (it pairs with the
        # checkpoint's batch-id sequence)
        marker_key = options.get("marker", "default")
        self._MARKER_PROP = (
            f"streaming.sparkberg-writer.{marker_key}.last-batch-id"
        )

    def commit(self, messages, batchId) -> None:  # type: ignore[override]
        from iceberg_loader_spark.tables.table import _append_build

        committed = [
            p for m in messages if m is not None for p in m.rel_paths
        ]
        table = self._commit_table()
        last = int(table.properties().get(self._MARKER_PROP, "-1"))
        if batchId <= last:
            # replayed micro-batch: its rows are already in the table —
            # drop the duplicate staged files, commit nothing
            for rel in committed:
                try:
                    os.unlink(os.path.join(self._root, rel))
                except OSError:
                    pass
            return
        entries = [_entry_for_file(self._root, p) for p in committed]
        table._commit_with_retry(
            _append_build(entries, {self._MARKER_PROP: str(batchId)})
        )

    def abort(self, messages, batchId) -> None:  # type: ignore[override]
        for m in messages:
            if m is None:
                continue
            for rel in m.rel_paths:
                try:
                    os.unlink(os.path.join(self._root, rel))
                except OSError:
                    pass



class SparkbergDataSource(DataSource):
    """Register with ``spark.dataSource.register(SparkbergDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        _table, snap = _resolve_snapshot(
            _table_root(self.options), self.options
        )
        # pin the resolved version: reader() must serve the SAME snapshot
        # this schema came from, even if a commit lands in between (and
        # the reader then skips a second manifest resolution). A branch
        # read pins branch_version instead — the pin indexes the branch
        # chain, and `version` would collide with the exclusivity check.
        if self.options.get("branch") is not None:
            self.options["branch_version"] = str(snap.version)
        else:
            self.options["version"] = str(snap.version)
        self.options.pop("tag", None)
        self.options.pop("as_of_ms", None)
        return T.StructType.fromJson(snap.schema_json)

    def reader(self, schema: T.StructType) -> _SparkbergReaderBase:
        if str(self.options.get("pushdown", "true")).lower() == "false":
            return SparkbergReaderNoPushdown(schema, self.options)
        return SparkbergReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> SparkbergWriter:
        return SparkbergWriter(schema, self.options, overwrite)

    def streamReader(self, schema: T.StructType) -> SparkbergStreamReader:
        return SparkbergStreamReader(schema, self.options)

    def streamWriter(
        self, schema: T.StructType, overwrite: bool
    ) -> "SparkbergStreamWriter":
        if overwrite:
            raise NotImplementedError(
                "sparkberg streaming sink is append-only (update/append "
                "output modes); complete-mode truncation is not supported"
            )
        return SparkbergStreamWriter(schema, self.options)


def register(spark) -> None:
    """Register the ``sparkberg`` format on ``spark`` and enable the
    Python-data-source filter-pushdown conf (a runtime conf; vanilla
    sessions default it to false, and Spark hard-fails any reader that
    overrides ``pushFilters`` while it is off). When the format is
    registered WITHOUT this helper on a session where the conf cannot
    be enabled, pass ``.option("pushdown", "false")`` per read to get
    the no-pushdown reader variant instead."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SparkbergDataSource)
