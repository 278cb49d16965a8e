"""The Table handle: scans, write strategies, commit loop.

Spark-first execution shape:

* **Scan** — the reader hands Spark an explicit parquet file list plus the
  table schema; Catalyst keeps its vectorized reader, filter pushdown and
  row-group pruning. File-level pruning happens before Spark ever sees the
  plan, from manifest partition values + min/max stats (metadata-only, no
  listing).
* **Append** — executors write parquet into a fresh per-commit staging dir
  (`data/<uuid>/…`, optionally `partitionBy` the derived transform
  columns); the driver then reads ONLY footers to build manifest entries
  and commits one snapshot. O(new files) driver work, like Iceberg.
* **Delete / Merge** — copy-on-write at file granularity: candidate files
  are chosen from metadata (partition/stats for DELETE, a key semi-join
  for MERGE), only those are rewritten; every other file carries over by
  reference. At 100 TB this is the difference between rewriting a
  partition and rewriting a table.

Reference parity: write modes and their semantics mirror
``/root/reference src/iceberg_loader/core/strategies.py:28-99``; the
result dict mirrors ``core/loader.py:250-258``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import urllib.parse
import uuid
from dataclasses import replace
from datetime import date, datetime

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from iceberg_loader_spark.sources.tables import ensure_compat
from iceberg_loader_spark.tables import bloom as bloom_mod
from iceberg_loader_spark.tables.filters import (
    prune_files,
    split_delete_candidates,
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
    PartitionField,
    spark_expr,
    validate_spec,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

def _op_applies(f: DataFile, o: dict) -> bool:
    """Does a merge-on-read delete op apply to this data file?

    Sequence rule first (a delete only covers strictly older files).
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
        # lexical range check (delete files sort by path at write).
        paths = o.get("paths")
        if paths is not None:
            return f.path in set(paths)
        ps = (o.get("stats") or {}).get("file_path")
        if ps and ps[0] is not None:
            return ps[0] <= f.path <= ps[1]
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
# data files always live at <root>/data/<32-hex-uuid>/...; extracting that
# suffix is deterministic per absolute path, so writer and reader agree
# even if the root path itself ever matched the pattern.
_LINEAGE_RE = r"(data/[0-9a-f]{32}/.*)$"


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


def _stamp_sequence(entries, version: int) -> None:
    """Set the data sequence number on freshly written manifest entries.

    Runs inside each commit's ``build`` so a conflict retry re-stamps
    with the rebased version — the sequence is the version the files
    actually commit at, which is what merge-on-read delete applicability
    is defined against.
    """
    for e in entries:
        e.sequence = version


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


def entry_from_footer(
    abs_path: str, rel_path: str, partition: dict | None = None
) -> DataFile:
    """Footer-read ONE written parquet file into a manifest entry: row
    count, byte size, and the per-column min/max fold across row groups
    (a single chunk without usable stats poisons that column — a partial
    range would wrongly prune files). Shared by the engine write path
    and the Spark-format connector so manifest stats stay identical
    regardless of which writer produced the file."""
    md = pq.ParquetFile(abs_path).metadata
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
            lo, hi = _stat_value(st.min), _stat_value(st.max)
            if lo is None or hi is None:
                stats[name] = None
                continue
            prev = stats.get(name)
            if prev is None and name in stats:
                continue
            if prev is None:
                stats[name] = [lo, hi]
            else:
                stats[name] = [min(prev[0], lo), max(prev[1], hi)]
    return DataFile(
        path=rel_path.replace(os.sep, "/"),
        rows=md.num_rows,
        bytes=os.path.getsize(abs_path),
        partition=partition or {},
        stats={k: v for k, v in stats.items() if v is not None},
    )


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
        (so semantics never depend on pruning quality). ``tag`` reads the
        snapshot a named tag points at (mutually exclusive with
        ``version``/``as_of_timestamp_ms``).
        """
        ensure_compat(spark)
        if tag is not None:
            if version is not None or as_of_timestamp_ms is not None:
                raise ValueError("tag is exclusive with version/timestamp")
            snap = self.snapshot(self.resolve_tag(tag))
        elif as_of_timestamp_ms is not None:
            snap = self.meta.snapshot_as_of(as_of_timestamp_ms)
        else:
            snap = self.snapshot(version)
        files, _ = prune_files(where, snap.files, _spec(snap))
        df = self._read_files_mor(
            spark, files, _schema(snap), snap.delete_predicates, snap.delete_files
        )
        if where:
            df = df.filter(F.expr(to_spark_sql(where)))
        return df

    def _read_files_mor(
        self,
        spark: SparkSession,
        files: list[DataFile],
        schema: T.StructType,
        preds: list[dict],
        eq_dels: list[dict] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Read data files with pending merge-on-read deletes applied —
        both predicate deletes (row filters) and equality-delete files
        (anti-joins on key columns, Iceberg v2's delete-file shape).

        A delete applies to files whose sequence is LOWER than its own,
        so files group by "era": with deletes sorted by sequence, each
        file's applicable set is a suffix of the list — one parquet read
        per era with its filters/anti-joins, unioned. Time travel is
        automatic (callers pass the target snapshot's delete lists).

        Scale: predicate deletes are ordinary Catalyst filters pushed
        into the era's parquet scan (no shuffle); an equality-delete
        anti-join shuffles only (key, —) pairs and broadcasts when the
        key file is small — exactly the read-time cost Iceberg v2 pays.
        Compaction (`rewrite_data_files`) materializes + clears both
        kinds so neither list grows unboundedly."""
        # entries from delete_files default to equality; positional delete
        # ops carry their own "kind": "pos" marker which **d preserves
        ops = [
            {"kind": "pred", **p} for p in (preds or [])
        ] + [{"kind": "eq", **d} for d in (eq_dels or [])]
        ops.sort(key=lambda o: o["sequence"])
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
                i for i, o in enumerate(ops) if _op_applies(f, o)
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
            for o in (ops[i] for i in k):
                if o["kind"] == "pred":
                    e = F.expr(to_spark_sql(o["where"]))
                    df = df.filter(~e | e.isNull())
                elif o["kind"] == "pos":
                    dels = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                        os.path.join(self.root, o["path"])
                    )
                    df = df.join(
                        dels,
                        (F.col(_LINEAGE_FILE) == dels["file_path"])
                        & (F.col(_LINEAGE_POS) == dels["pos"]),
                        how="left_anti",
                    )
                else:
                    kcols = o["equality_cols"]
                    kset = set(kcols)
                    kschema = T.StructType(
                        [f for f in schema.fields if f.name in kset]
                    )
                    keys = spark.read.schema(kschema).parquet(
                        os.path.join(self.root, o["path"])
                    )
                    # plain-equality anti join (NULL keys never match) —
                    # the same null semantics the CoW merge join uses
                    df = df.join(keys, on=list(kcols), how="left_anti")
            if need_lineage and not with_lineage:
                df = df.drop(_LINEAGE_FILE, _LINEAGE_POS)
            out = df if out is None else out.unionByName(df)
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
        (Iceberg's ``start-snapshot-id``/``end-snapshot-id`` read).

        Only ``append`` snapshots may appear in the range; ``replace``
        (compaction), ``evolve-schema`` and ``evolve-partition`` snapshots
        are skipped because they change no rows (compaction rewrites
        bytes, evolution only changes metadata — the file set is the
        parent's, unchanged), and
        any row-changing operation (overwrite/delete/merge) raises — a
        consumer that needs those needs a CDC log, not a file diff. The
        appended files are read directly, so an incremental consumer
        never rescans the base table: cost is proportional to the delta,
        not the table.
        """
        ensure_compat(spark)
        to_snap = self.snapshot(to_version)
        versions = sorted(
            v
            for v in self.meta.list_versions()
            if from_version < v <= to_snap.version
        )
        new_files: list[DataFile] = []
        for v in versions:
            snap = self.snapshot(v)
            if snap.operation in (
                "replace",
                "evolve-schema",
                "evolve-partition",
                "set-ref",
            ):
                continue
            if snap.operation != "append":
                raise ValueError(
                    f"incremental scan supports append-only history; "
                    f"snapshot {v} is '{snap.operation}'"
                )
            if snap.parent_version is None:
                parent_paths: set[str] = set()
            else:
                try:
                    parent_paths = {
                        f.path for f in self.snapshot(snap.parent_version).files
                    }
                except FileNotFoundError:
                    raise ValueError(
                        f"snapshot history expired: parent manifest "
                        f"v{snap.parent_version} of snapshot {v} was removed "
                        f"by expire_snapshots; incremental scan from "
                        f"{from_version} is impossible — full rescan required"
                    ) from None
            new_files.extend(
                f for f in snap.files if f.path not in parent_paths
            )
        schema = T.StructType.fromJson(to_snap.schema_json)
        spec = [PartitionField.from_json(d) for d in to_snap.partition_spec]
        files, _ = prune_files(where, new_files, spec)
        if not files:
            df = spark.createDataFrame([], schema)
        else:
            paths = [os.path.join(self.root, f.path) for f in files]
            df = spark.read.schema(schema).parquet(*paths)
        if where:
            df = df.filter(F.expr(to_spark_sql(where)))
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
        between the rows of its added and removed files, so rows a
        copy-on-write rewrite merely carried over cancel out exactly.
        Row-preserving snapshots (``replace`` compaction, schema/partition
        evolution) are skipped outright — no bytes read.

        Scale: cost is proportional to the CHURNED files per commit
        (added + removed), never the table; the only shuffle is the
        per-commit ``exceptAll`` over those files' rows. Consumers that
        only ever append should prefer :meth:`scan_incremental`, which
        reads the delta files with no diff shuffle at all.
        """
        ensure_compat(spark)
        to_snap = self.snapshot(to_version)
        versions = sorted(
            v
            for v in self.meta.list_versions()
            if from_version < v <= to_snap.version
        )
        schema = T.StructType.fromJson(to_snap.schema_json)

        out: DataFrame | None = None
        for v in versions:
            snap = self.snapshot(v)
            if snap.operation in (
                "replace",
                "evolve-schema",
                "evolve-partition",
                "set-ref",
            ):
                continue
            if snap.parent_version is None:
                parent_snap = None
                parent_files: list[DataFile] = []
                parent_preds: list[dict] = []
                parent_dels: list[dict] = []
            else:
                try:
                    parent_snap = self.snapshot(snap.parent_version)
                except FileNotFoundError:
                    raise ValueError(
                        f"snapshot history expired: parent manifest "
                        f"v{snap.parent_version} of snapshot {v} was "
                        f"removed by expire_snapshots; changelog from "
                        f"{from_version} is impossible"
                    ) from None
                parent_files = parent_snap.files
                parent_preds = parent_snap.delete_predicates
                parent_dels = parent_snap.delete_files
            snap_paths = {f.path for f in snap.files}
            parent_paths = {f.path for f in parent_files}
            added = [f for f in snap.files if f.path not in parent_paths]
            removed = [f for f in parent_files if f.path not in snap_paths]
            step_schema = T.StructType.fromJson(snap.schema_json)

            # merge-on-read delete: the commit may change no files, but
            # each newly recorded predicate hides rows of every lower-
            # sequence parent file — surface those as 'delete' rows (read
            # cost: the applicable files, i.e. exactly the churn).
            new_preds = snap.delete_predicates[len(parent_preds):]
            new_eqdels = snap.delete_files[len(parent_dels):]
            mor_dels: DataFrame | None = None
            for pi, pred in enumerate(new_preds):
                # only files SURVIVING the commit: rows of files the MoR
                # delete dropped outright (metadata-proof full matches)
                # are emitted by the removed-files diff below — counting
                # them here would double-report
                applicable = [
                    f for f in snap.files if f.sequence < pred["sequence"]
                ]
                # rows visible before this predicate: parent's predicates
                # plus any earlier predicate recorded in the same range
                visible = self._read_files_mor(
                    spark,
                    applicable,
                    step_schema,
                    parent_preds + new_preds[:pi],
                    parent_dels,
                )
                e = F.expr(to_spark_sql(pred["where"]))
                hit = visible.filter(e)
                mor_dels = (
                    hit if mor_dels is None else mor_dels.unionByName(hit)
                )
            for di, d in enumerate(new_eqdels):
                # rows a delete FILE hides: lower-sequence surviving
                # files, semi-joined on the key columns (equality — the
                # MoR upsert's 'old row versions') or on row lineage
                # (positional) — cost ∝ applicable files either way
                applicable = [
                    f for f in snap.files if f.sequence < d["sequence"]
                ]
                is_pos = d.get("kind") == "pos"
                visible = self._read_files_mor(
                    spark,
                    applicable,
                    step_schema,
                    parent_preds + new_preds,
                    parent_dels + new_eqdels[:di],
                    with_lineage=is_pos,
                )
                if is_pos:
                    pos = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                        os.path.join(self.root, d["path"])
                    )
                    hit = visible.join(
                        pos,
                        (F.col(_LINEAGE_FILE) == pos["file_path"])
                        & (F.col(_LINEAGE_POS) == pos["pos"]),
                        how="left_semi",
                    ).drop(_LINEAGE_FILE, _LINEAGE_POS)
                else:
                    kset = set(d["equality_cols"])
                    kschema = T.StructType(
                        [f for f in step_schema.fields if f.name in kset]
                    )
                    keys = spark.read.schema(kschema).parquet(
                        os.path.join(self.root, d["path"])
                    )
                    hit = visible.join(
                        keys, on=list(d["equality_cols"]), how="left_semi"
                    )
                mor_dels = (
                    hit if mor_dels is None else mor_dels.unionByName(hit)
                )
            if mor_dels is not None:
                step = mor_dels.withColumn(
                    "_change_type", F.lit("delete")
                ).withColumn("_commit_version", F.lit(v))
                out = (
                    step
                    if out is None
                    else out.unionByName(step, allowMissingColumns=True)
                )

            if not added and not removed:
                continue
            # read both sides with THIS snapshot's schema: parquet fills
            # columns added by later evolution with NULLs, so the diff
            # stays column-aligned across an evolving range.
            # Each side is read through ITS snapshot's MoR predicates so
            # already-hidden rows never resurface in the diff; files a
            # MoR delete dropped outright (metadata-proof full matches)
            # carry their predicate in snap.delete_predicates, so their
            # rows land in the removed side pre-filtered consistently.
            a = self._read_files_mor(
                spark,
                added,
                step_schema,
                snap.delete_predicates,
                snap.delete_files,
            )
            r = self._read_files_mor(
                spark, removed, step_schema, parent_preds, parent_dels
            )
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
        staging_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        staging_abs = os.path.join(self.root, staging_rel)
        out = df
        pcols = []
        for pf in spec:
            out = out.withColumn(f"_p_{pf.name}", spark_expr(pf))
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
        bloom_cols = _bloom_keys(snap)
        if bloom_cols and all(c in df.columns for c in bloom_cols):
            # One column-pruned read-back of the staged files builds the
            # per-file key blooms (bounded ≤m-position payload per file).
            blooms = bloom_mod.compute_file_blooms(
                df.sparkSession, staging_abs, bloom_cols
            )
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
        return entries

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
                        partition[k[3:]] = None if v == _HIVE_NULL else v
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

    def _commit_with_retry(self, build) -> Snapshot:
        """Optimistic-commit loop (reference: 10 retries, core/config.py:15-17).

        Every attempt re-reads the head as its parent and re-invokes
        ``build(parent_snapshot) -> Snapshot`` against it; the retry
        budget is that parent's ``commit.retry.num-retries``.
        """
        for attempt in itertools.count():
            parent = self.snapshot()
            snap = build(parent)
            try:
                return self.meta.commit(snap, expected_parent=parent.version)
            except CommitConflict:  # another writer won; rebase
                retries = parent.properties.get(
                    "commit.retry.num-retries",
                    DEFAULT_TABLE_PROPERTIES["commit.retry.num-retries"],
                )
                if attempt >= int(retries):
                    raise

    # ---- write strategies (SURVEY A7-A10) --------------------------------

    def append(
        self, df: DataFrame, extra_properties: dict[str, str] | None = None
    ) -> Snapshot:
        """A7: append — new snapshot = parent files + new files.

        ``extra_properties`` are merged into the snapshot's table
        properties ATOMICALLY with the data commit — the hook idempotent
        consumers (the exactly-once streaming sink) use to record their
        progress marker in the same transaction as the rows.
        """
        head = self.snapshot()
        entries = self._write_data_files(df, _spec(head), head)
        return self._commit_with_retry(_append_build(entries, extra_properties))

    def overwrite(self, df: DataFrame) -> Snapshot:
        """A8 (first flush): replace all table data with df's rows."""
        head = self.snapshot()
        entries = self._write_data_files(df, _spec(head), head)
        return self._commit_with_retry(_overwrite_build(entries))

    def delete_where(
        self, spark: SparkSession, where: str, mode: str = "cow"
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
        """
        if mode not in ("cow", "mor", "mor-pos"):
            raise ValueError(f"unknown delete mode: {mode!r}")
        ensure_compat(spark)
        if mode == "mor":
            return self._delete_where_mor(spark, where)
        if mode == "mor-pos":
            return self._delete_where_mor_pos(spark, where)
        snap = self.snapshot()
        spec = _spec(snap)
        # three-way split: metadata-proof full matches are dropped without
        # any rewrite (the partition-aligned fast path); only partial
        # matches are rewritten; clean files carry over by reference
        dropped, candidates, _clean = split_delete_candidates(
            where, snap.files, spec
        )
        sql_pred = to_spark_sql(where)
        new_entries: list[DataFile] = []
        deleted_rows = sum(f.rows for f in dropped)
        rewritten = []
        if candidates:
            cdf = self._read_files_mor(
                spark,
                candidates,
                _schema(snap),
                snap.delete_predicates,
                snap.delete_files,
            )
            keep = cdf.filter(~F.expr(sql_pred) | F.expr(sql_pred).isNull())
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

        return self._commit_with_retry(build)

    def _delete_where_mor(self, spark: SparkSession, where: str) -> Snapshot:
        """Merge-on-read DELETE: record the predicate, rewrite nothing.

        The commit is pure metadata — the predicate plus the new
        snapshot's version as its sequence number; scans apply it to
        every file with a lower sequence. Metadata-proof full matches
        (partition-aligned deletes) still drop their files outright, so
        the common prune case costs nothing at scan time either.
        """
        to_spark_sql(where)  # validate the predicate parses NOW, not at scan
        snap = self.snapshot()
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

        return self._commit_with_retry(build)

    _POS_PATHS_CAP = 1000  # max referenced data paths stored on a pos op

    def _delete_where_mor_pos(self, spark: SparkSession, where: str) -> Snapshot:
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
        snap = self.snapshot()
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
            # an empty delete file (no rows matched) adds scan cost for
            # nothing — drop it from the commit
            if sum(e.rows for e in pos_entries) == 0:
                pos_entries = []
        cand_paths = [f.path for f in candidates]
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
            v = parent.version + 1
            kept = [f for f in parent.files if f.path not in dropped_paths]
            dels = parent.delete_files + [
                {
                    "path": e.path,
                    "kind": "pos",
                    "sequence": v,
                    "rows": e.rows,
                    "bytes": e.bytes,
                    "stats": {
                        c: e.stats[c]
                        for c in ("file_path", "pos")
                        if e.stats.get(c) is not None
                    },
                    **(
                        {"paths": cand_paths}
                        if len(cand_paths) <= self._POS_PATHS_CAP
                        else {}
                    ),
                }
                for e in pos_entries
            ]
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

        return self._commit_with_retry(build)

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        join_cols: list[str],
        mode: str = "cow",
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
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode: {mode!r}")
        ensure_compat(spark)
        if mode == "mor":
            return self._merge_mor(spark, source, join_cols)
        snap = self.snapshot()
        schema = _schema(snap)
        spec = _spec(snap)
        cols = [f.name for f in schema.fields]
        non_keys = [c for c in cols if c not in join_cols]

        # The source feeds FOUR consumers (dup check, file-location
        # semi-join, the CoW outer join, the insert anti-join) — persist
        # it so its upstream pipeline runs once, and fold the dup check
        # into one aggregate over the persisted frame (count vs distinct
        # key count), which doubles as the eager cache populator.
        src = source.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        # (struct wrapper: a struct holding NULL fields is itself non-NULL,
        # so NULL join keys still count — same grouping the old
        # groupBy-based check applied)
        n_src, n_keys = src.agg(
            F.count("*"),
            F.count_distinct(F.struct(*[F.col(c) for c in join_cols])),
        ).first()
        if n_src != n_keys:
            src.unpersist()
            raise ValueError(f"duplicate join keys in upsert source on {join_cols}")

        # locate affected files via key semi-join (metadata → file level)
        affected_rel: set[str] = set()
        if snap.files:
            paths = [os.path.join(self.root, f.path) for f in snap.files]
            tagged = spark.read.schema(schema).parquet(*paths).withColumn(
                "_file", F.input_file_name()
            )
            hits = (
                tagged.join(src.select(*join_cols), join_cols, "left_semi")
                .select("_file")
                .distinct()
                .collect()
            )
            root_uri_suffixes = {os.path.join(self.root, f.path): f.path for f in snap.files}
            for r in hits:
                fpath = urllib.parse.unquote(urllib.parse.urlparse(r["_file"]).path)
                rel = root_uri_suffixes.get(fpath)
                if rel is None:
                    rel = os.path.relpath(fpath, self.root).replace(os.sep, "/")
                affected_rel.add(rel)
        affected = [f for f in snap.files if f.path in affected_rel]

        updated_rows = 0
        new_entries: list[DataFile] = []
        if affected:
            # read through the MoR filter: a pending delete predicate must
            # not be resurrected by the rewrite
            tdf = self._read_files_mor(
                spark,
                affected,
                schema,
                snap.delete_predicates,
                snap.delete_files,
            )
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
            if non_keys:
                t_struct = F.struct(*[F.col(f"t.{c}") for c in non_keys])
                s_struct = F.struct(*[F.col(f"s.{c}") for c in non_keys])
                updated_rows = joined.filter(matched & ~t_struct.eqNullSafe(s_struct)).count()
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
        else:
            try:
                new_entries = self._write_data_files(src, spec, snap)
            finally:
                src.unpersist()
        inserted_rows = (
            sum(e.rows for e in new_entries)
            - sum(f.rows for f in affected)
        )

        scanned_paths = {f.path for f in snap.files}

        def build(parent: Snapshot) -> Snapshot:
            # a concurrent append could hold rows with matching keys that
            # the key semi-join never saw → duplicate keys after merge;
            # fail validation like Iceberg rather than commit (ADVICE r1)
            self._validate_cow_input(parent, scanned_paths, "merge")
            remaining = [f for f in parent.files if f.path not in affected_rel]
            _stamp_sequence(new_entries, parent.version + 1)
            return new_snapshot(
                parent,
                "merge",
                parent.schema_json,
                parent.partition_spec,
                remaining + new_entries,
                parent.properties,
                {
                    "updated-records": updated_rows,
                    "inserted-records": inserted_rows,
                    "rewritten-files": len(affected),
                    "total-records": parent.total_rows + inserted_rows,
                },
            )

        return self._commit_with_retry(build)

    def _key_probe_hashes(
        self, key_entries: list[DataFile], key_cols: list[str]
    ) -> dict[str, list[list[int]]]:
        """Bloom probe payload for equality-delete ops: per-key (h1, h2)
        hashes let ``_op_applies`` test each delete key against a
        candidate file's bloom. Only computed for small key sets
        (≤ PROBE_CAP total rows) so the manifest op stays O(small);
        larger deletes fall back to key-range pruning alone. Keys are
        read back from the just-written key files — a driver-side read
        of O(keys) rows, same order as the commit metadata itself."""
        probes: dict[str, list[list[int]]] = {}
        if sum(e.rows for e in key_entries) > bloom_mod.PROBE_CAP:
            return probes
        for e in key_entries:
            tbl = pq.read_table(
                os.path.join(self.root, e.path), columns=list(key_cols)
            )
            tuples = [
                t
                for t in zip(*[tbl.column(c).to_pylist() for c in key_cols])
                if all(v is not None for v in t)
            ]
            hashes = bloom_mod.probe_hashes_for_keys(tuples)
            if hashes is not None:
                probes[e.path] = hashes
        return probes

    def _merge_mor(
        self, spark: SparkSession, source: DataFrame, join_cols: list[str]
    ) -> Snapshot:
        """Write-optimized MERGE: append source data files + one
        equality-delete file on the join keys; the target is never read.

        Isolation note: like Flink's CDC writer, this commits under
        snapshot isolation — a row appended CONCURRENTLY with a matching
        key (a lower sequence than this commit) is superseded by the
        equality delete rather than aborting the merge. The CoW path
        keeps the stricter abort-on-conflict posture.
        """
        snap = self.snapshot()
        cols = _schema(snap).names
        missing = [c for c in join_cols if c not in cols]
        if missing:
            raise ValueError(f"join columns not in schema: {missing}")

        src = source.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_src, n_keys = src.agg(
                F.count("*"),
                F.count_distinct(F.struct(*[F.col(c) for c in join_cols])),
            ).first()
            if n_src != n_keys:
                raise ValueError(
                    f"duplicate join keys in upsert source on {join_cols}"
                )
            entries = self._write_data_files(src, _spec(snap), snap)
            key_entries = self._write_data_files(
                src.select(*join_cols), [], snap
            )
        finally:
            src.unpersist()
        probes = self._key_probe_hashes(key_entries, join_cols)

        def build(parent: Snapshot) -> Snapshot:
            v = parent.version + 1
            _stamp_sequence(entries, v)
            dels = parent.delete_files + [
                {
                    "path": e.path,
                    "equality_cols": list(join_cols),
                    "sequence": v,
                    "rows": e.rows,
                    "bytes": e.bytes,
                    # key min/max from the parquet footer: lets readers
                    # skip the anti-join for key-range-disjoint files
                    "stats": {
                        c: e.stats[c]
                        for c in join_cols
                        if e.stats.get(c) is not None
                    },
                    **(
                        {"probe": probes[e.path]}
                        if e.path in probes
                        else {}
                    ),
                }
                for e in key_entries
            ]
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

        return self._commit_with_retry(build)

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
            v = parent.version + 1
            dels = parent.delete_files + [
                {
                    "path": e.path,
                    "equality_cols": list(key_cols),
                    "sequence": v,
                    "rows": e.rows,
                    "bytes": e.bytes,
                    "stats": {
                        c: e.stats[c]
                        for c in key_cols
                        if e.stats.get(c) is not None
                    },
                    **(
                        {"probe": probes[e.path]}
                        if probes.get(e.path) is not None
                        else {}
                    ),
                }
                for e in key_entries
            ]
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

        return self._commit_with_retry(build)

    def set_partition_spec(self, spec: list[PartitionField]) -> Snapshot:
        """Partition-spec evolution (Iceberg's ``ADD/REPLACE PARTITION
        FIELD``): future writes use the new spec; existing files keep the
        partition values they were written with. Mixed-spec tables plan
        correctly because pruning reads each file's own partition dict
        (a file without a value for a pruned key is simply not pruned by
        it) — same contract as Iceberg spec evolution."""
        validate_spec(spec, self.schema())

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

        return self._commit_with_retry(build)

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
        target = self.snapshot(version).version  # validates existence

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

        return self._commit_with_retry(build)

    def remove_tag(self, name: str) -> Snapshot:
        key = self._TAG_PREFIX + name
        if key not in self.properties():
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

        return self._commit_with_retry(build)

    def tags(self) -> dict[str, int]:
        return {
            k[len(self._TAG_PREFIX):]: int(v)
            for k, v in self.properties().items()
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
            meta = TableMetadata(self.root, backend=backend)
            for snap in meta.snapshots():
                live |= {f.path for f in snap.files}
                live |= {df["path"] for df in snap.delete_files}
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
        main_v = self.meta.current_version()
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
                self.meta.commit(
                    replace(s, properties=clean), expected_parent=v - 1
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
        return self.snapshot()

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
        fork_snap = self.snapshot(fork_v)
        protected = (
            {f.path for f in fork_snap.files}
            | {df["path"] for df in fork_snap.delete_files}
            | self._all_chain_live_paths(exclude_meta_dirs={branch_dir})
        )
        removed = 0
        seen: set[str] = set()
        for s in shadow.history():
            for path in [f.path for f in s.files] + [
                df["path"] for df in s.delete_files
            ]:
                if path in protected or path in seen:
                    continue
                seen.add(path)
                p = os.path.join(self.root, path)
                if os.path.isfile(p):
                    os.remove(p)
                    removed += 1
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
        fork_paths = {f.path for f in self.snapshot(fork_v).files}
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

        snap = self._commit_with_retry(build)
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
        protected = {
            f.path for f in self.snapshot(fork_v).files
        } | self._all_chain_live_paths(exclude_meta_dirs={wap_dir})
        removed = 0
        for s in shadow.history():
            for f in s.files:
                if f.path in protected:
                    continue
                p = os.path.join(self.root, f.path)
                if os.path.isfile(p):
                    os.remove(p)
                    removed += 1
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
            return self._commit_with_retry(build)
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

        return self._commit_with_retry(build)

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
        schema = self.schema()
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

        return self._commit_with_retry(build)
