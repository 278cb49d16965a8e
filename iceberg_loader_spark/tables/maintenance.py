"""Snapshot expiry + compaction (SURVEY.md §2 A32-A35).

Expiry semantics mirror the reference
(``/root/reference src/iceberg_loader/services/maintenance.py:12-86``):

* ``keep_last=K`` → cutoff is the timestamp of the K-th-newest snapshot
  minus 1 ms (``_determine_cutoff``, maintenance.py:56-74); K<=0 or K
  larger than history → no-op.
* ``older_than_ms`` → expire snapshots strictly older than the cutoff.
* the CURRENT snapshot is never expired; errors are logged, not raised
  (maintenance.py:76-81).

Data files referenced by no surviving snapshot are deleted (the
``expire_snapshots`` + ``remove_orphan_files`` pairing Iceberg exposes as
procedures). Compaction is ``rewrite_data_files``: read current data, bin
it into ~target-size output files, commit a ``replace`` snapshot with
identical rows.
"""

from __future__ import annotations

import logging
import math
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_loader_spark.sources.tables import ensure_compat
from iceberg_loader_spark.tables.format import (
    ConcurrentModification,
    DataFile,
    Snapshot,
    new_snapshot,
)
from iceberg_loader_spark.tables.table import (
    Table,
    _delete_ops,
    _schema,
    _sort_order,
    _spec,
    discard_files,
    live_paths,
)

log = logging.getLogger(__name__)


def determine_cutoff_ms(snapshots: list[Snapshot], keep_last: int) -> int | None:
    """Timestamp cutoff for keep-last-K (reference maintenance.py:56-74)."""
    if keep_last <= 0 or len(snapshots) <= keep_last:
        return None
    ordered = sorted(snapshots, key=lambda s: s.timestamp_ms, reverse=True)
    return ordered[keep_last - 1].timestamp_ms - 1


def _shadow_live_paths(table: Table) -> set[str]:
    """Every data/delete-file path referenced by any metadata chain of
    the table OTHER than the handle's own — files ``table.history()``
    alone cannot account for but which must survive both expiry and the
    orphan sweep.

    The caller always computes its own chain's survivors itself, so the
    exclusion is keyed on the handle's meta_dir: invoked on the MAIN
    handle this unions every WAP stage and branch (the original
    behavior); invoked on a BRANCH/WAP handle it also unions the MAIN
    chain — without that, fork-seed files rewritten out of the branch's
    survivors (e.g. by a branch copy-on-write delete) but still
    referenced by main would be classified dead and deleted, breaking
    main."""
    from iceberg_loader_spark.tables.format import META_DIR

    own = getattr(
        table.meta.backend, "meta_dir", os.path.join(table.root, META_DIR)
    )
    return table._all_chain_live_paths(exclude_meta_dirs={own})


def expire_snapshots(
    table: Table,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
) -> dict:
    """Expire old snapshots + delete unreferenced data files."""
    try:
        snapshots = table.history()
        if not snapshots:
            return {"expired": 0, "remaining": 0, "deleted_files": 0}
        current_version = table.meta.current_version()
        if keep_last is not None:
            cutoff = determine_cutoff_ms(snapshots, keep_last)
        else:
            cutoff = older_than_ms
        if cutoff is None:
            return {"expired": 0, "remaining": len(snapshots), "deleted_files": 0}

        # tagged versions are retention-pinned (Iceberg tag refs): a tag
        # in the CURRENT properties protects its target from expiry
        current = next(s for s in snapshots if s.version == current_version)
        tagged = set(table.tags(current).values())
        expired = [
            s
            for s in snapshots
            if s.timestamp_ms < cutoff
            and s.version != current_version
            and s.version not in tagged
        ]
        expired_versions = {s.version for s in expired}
        survivors = [s for s in snapshots if s.version not in expired_versions]
        # Delta-encoded manifests may chain through versions being
        # expired: materialize any surviving manifest whose base is about
        # to disappear BEFORE deleting, from the snapshot history already
        # resolved (the replace is atomic, so concurrent readers see
        # old-delta or new-full, both resolving to identical content).
        for s in survivors:
            if s.files_base in expired_versions:
                table.meta.backend.write_manifest_replace(s.version, s.to_json())
        # a live WAP stage / branch chain may be the ONLY reference to a
        # file an expired MAIN snapshot also carried (e.g. a branch forked
        # at a version being expired): expiry must not break its scans
        dead = live_paths(expired) - live_paths(survivors) - _shadow_live_paths(table)
        for s in expired:
            table.meta.delete_snapshot_manifest(s.version)
        deleted = discard_files(table.root, dead)
        return {
            "expired": len(expired),
            "remaining": len(survivors),
            "deleted_files": deleted,
        }
    except Exception as e:  # noqa: BLE001 — reference swallows as warning
        log.warning("snapshot expiry failed for %s: %s", table.identifier, e)
        return {"expired": 0, "remaining": -1, "deleted_files": 0, "error": str(e)}


_ZORDER_BITS = 10


def _zorder_column(
    df, cols: list[str], stats: dict[str, list], bits: int = _ZORDER_BITS
):
    """Z-value expression: per-column uniform bucket id in [0, 2^bits),
    bit-interleaved across columns (Morton order).

    Bucket boundaries come from the MANIFEST min/max stats (no extra job;
    the quantization only affects clustering quality, never results).
    Numeric columns only — Z-ordering strings needs a rank pass, which is
    a different cost class; callers get a loud error instead of silent
    bad clustering.
    """
    bucket_exprs = []
    for c in cols:
        if c not in stats:
            raise ValueError(f"no min/max stats for column {c!r}")
        lo, hi = stats[c]
        if not isinstance(lo, (int, float)) or isinstance(lo, bool):
            raise ValueError(
                f"zorder_by supports numeric columns only, {c!r} is "
                f"{type(lo).__name__}"
            )
        span = float(hi) - float(lo) or 1.0
        b = F.floor(
            (F.col(c).cast("double") - float(lo)) / span * (2**bits - 1)
        ).cast("long")
        bucket_exprs.append(
            F.least(F.lit(2**bits - 1), F.greatest(F.lit(0), b))
        )
    z = F.lit(0).cast("long")
    n = len(bucket_exprs)
    for i in range(bits):
        for j, b in enumerate(bucket_exprs):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return z.alias("_zvalue")


def _rewrite_spark(
    table: Table,
    spark: SparkSession,
    snap: Snapshot,
    spec: list,
    target: int,
    sort_by: list[str] | None,
    zorder_by: list[str] | None,
) -> list[DataFile]:
    """``rewrite_data_files``' data path in Spark: ``snap``'s rows,
    pending deletes applied, clustered and written as new data files."""
    ensure_compat(spark)
    df = table._read_files_mor(spark, snap.files, _schema(snap), _delete_ops(snap))
    if zorder_by:
        if spec:
            raise ValueError(
                "zorder_by requires an unpartitioned table (partition "
                "values already dominate file boundaries)"
            )
        stats: dict[str, list] = {}
        for f in snap.files:
            for c in zorder_by:
                if f.stats.get(c) is None:
                    continue
                lo, hi = f.stats[c]
                if c in stats:
                    stats[c] = [min(stats[c][0], lo), max(stats[c][1], hi)]
                else:
                    stats[c] = [lo, hi]
        z = _zorder_column(df, zorder_by, stats)
        # Split the z DOMAIN uniformly instead of range-sampling row
        # quantiles: RangePartitioner's reservoir sample is seeded by
        # rdd.id, so in a long-lived session the sampled boundaries
        # drift between runs — file k must ALWAYS cover exactly the
        # k-th z-interval or the per-file min/max guarantees (e.g. "the
        # top z-quartile file excludes low keys") become probabilistic,
        # and its weight balancing silently MERGES skew-light intervals
        # (observed: 4 requested files, 3 produced). The domain split
        # trades perfectly even file sizes under skew for deterministic,
        # contiguous per-file z-ranges — the property the pruning story
        # rests on.
        #
        # Interval → partition placement must also be exact: hash
        # partitioning on the interval id could collide two intervals
        # into one file. Each id is therefore remapped to a CARRIER int
        # whose Murmur3 hash lands in exactly partition id — found by a
        # tiny deterministic driver-side search (Spark's int hash is a
        # fixed function), so repartition(target, carrier) is a plain
        # hash shuffle with a perfect placement, no sampling anywhere.
        # Interval id = _zv DIV step (divide-FIRST): the naive
        # `_zv * target DIV zspan` multiplies before dividing, and with
        # zspan = 2^(10·cols) the product overflows BIGINT once
        # 10·cols + log2(target) ≥ 63 (e.g. 6 z-order columns with
        # target ≥ 8) — an ANSI-mode ArithmeticException instead of a
        # placement. step = ceil(zspan/target) keeps ids in [0, target)
        # (zspan ≥ 2^10 ≫ target, so every id is reachable); least()
        # clamps the exact-boundary edge.
        zspan = 2 ** (_ZORDER_BITS * len(zorder_by))
        zstep = -(-zspan // target)  # ceil
        slot = {}
        for r in spark.range(0, 64 * target).select(
            F.col("id").cast("int").alias("c"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(target)).alias("p"),
        ).collect():
            slot.setdefault(r["p"], r["c"])
        if len(slot) < target:  # pragma: no cover - 64x oversampled search
            raise RuntimeError("carrier search did not cover all partitions")
        carrier = (
            "CASE _zf "
            + " ".join(f"WHEN {k} THEN {slot[k]}" for k in range(target))
            + " END"
        )
        df = (
            df.withColumn("_zv", z)
            .withColumn(
                "_zf", F.expr(f"least(_zv DIV {zstep}, {target - 1})")
            )
            .repartition(target, F.expr(carrier).cast("int"))
            .sortWithinPartitions("_zv")
            .drop("_zv", "_zf")
        )
    elif sort_by and not spec:
        # range partition on the sort key -> near-disjoint per-file ranges
        df = df.repartitionByRange(target, *sort_by).sortWithinPartitions(
            *sort_by
        )
    elif not spec:
        df = df.repartition(target)
    # Partitioned tables: _write_data_files repartitions by the partition
    # columns (one task per partition value), so the sort must happen
    # INSIDE that method, after its repartition — a pre-sort here would be
    # destroyed. Within each partition the rows are then sort-clustered,
    # giving tight per-file min/max on the sort columns.
    return table._write_data_files(
        df, spec, snap, sort_within=sort_by if spec else None
    )


def rewrite_data_files(
    table: Table,
    spark: SparkSession,
    target_file_mb: int = 512,
    sort_by: list[str] | None = None,
    target_files: int | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """A35: compaction — coalesce small files into ~target-size files.

    ``sort_by``: cluster rows by these columns during the rewrite
    (Iceberg's sort-order rewrite): a range repartition + within-file
    sort gives each output file a tight, near-disjoint min/max range on
    the sort columns, so metadata pruning on them approaches
    one-file-per-predicate at scan time — the single biggest pruning
    lever at 100 TB. Linear sort only prunes on the LEADING column(s).

    ``zorder_by``: multi-dimensional clustering (Iceberg/Delta Z-order):
    rows are range-partitioned and sorted by the Morton interleave of
    per-column bucket ids, so every listed column gets partial per-file
    min/max locality — point/range predicates on ANY of them prune to
    ~n_files^((d-1)/d). Numeric columns, unpartitioned tables (partition
    values already dominate file boundaries otherwise).

    Where the Spark path writes one file per partition value (a
    partitioned table, or an unpartitioned one compacted into one
    target file) and ``zorder_by`` is not given, a small input is
    rewritten on the driver instead (``Table._rewrite_rows_arrow``:
    ``Table._read_arrow`` with the pending deletes applied, then the
    Arrow writer), with no Spark job; it must fit ``DRIVER_MERGE_BYTES``
    and meet the Arrow writer's eligibility. Either way the input is
    read from the one snapshot resolved here.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    snap = table.snapshot()
    # checked here for both data paths: the Spark sort would raise, the
    # driver's would skip an unknown column
    unknown = [c for c in sort_by or [] if c not in _schema(snap).names]
    if unknown:
        raise ValueError(f"sort_by references unknown columns: {unknown}")
    if not sort_by and not zorder_by:
        # a standing write.sort-order keeps its clustering through
        # compaction without the caller restating it
        sort_by = _sort_order(snap)
    if not snap.files:
        return {"rewritten": 0, "added": 0}
    total_bytes = sum(f.bytes for f in snap.files)
    target = target_files or max(
        1, round(total_bytes / (target_file_mb * 1024 * 1024))
    )
    spec = _spec(snap)
    entries = None
    # the driver writes what the Spark path writes as one file per
    # partition value: a partitioned table, or one target file
    if not zorder_by and (spec or target == 1):
        entries = table._rewrite_rows_arrow(snap.files, snap, spec, sort_by)
    if entries is None:
        entries = _rewrite_spark(table, spark, snap, spec, target, sort_by, zorder_by)
    # Only the files we actually scanned are replaced. A writer that
    # commits between the scan and the commit (or during a conflict
    # retry) must have its files carried over, or its rows are lost —
    # same carryover contract delete/merge use.
    compacted_paths = {f.path for f in snap.files}

    def build(parent):
        parent_paths = {f.path for f in parent.files}
        missing = compacted_paths - parent_paths
        if missing:
            # a concurrent delete/merge/compaction removed files we
            # rewrote — committing would resurrect their rows
            raise ConcurrentModification(
                f"compaction input files removed by a concurrent commit "
                f"({len(missing)} files); re-run rewrite_data_files"
            )
        carried = [f for f in parent.files if f.path not in compacted_paths]
        # Sequence inheritance (Iceberg's rewrite semantics): compacted
        # files keep the MAX input sequence, not the replace version —
        # so a merge-on-read delete recorded concurrently (sequence
        # between the scan and this commit) still applies to the
        # rewritten rows at scan time. The predicates that existed at
        # scan time were materialized by reading through table.scan and
        # are cleared; later-recorded ones carry forward.
        inherited = max((f.sequence for f in snap.files), default=0)
        for e in entries:
            e.sequence = inherited
        materialized = {
            (p["where"], p["sequence"]) for p in snap.delete_predicates
        }
        remaining_preds = [
            p
            for p in parent.delete_predicates
            if (p["where"], p["sequence"]) not in materialized
        ]
        materialized_dels = {
            (d["path"], d["sequence"]) for d in snap.delete_files
        }
        remaining_dels = [
            d
            for d in parent.delete_files
            if (d["path"], d["sequence"]) not in materialized_dels
        ]
        files = carried + entries
        return new_snapshot(
            parent,
            "replace",
            parent.schema_json,
            parent.partition_spec,
            files,
            parent.properties,
            {
                "rewritten-files": len(parent.files) - len(carried),
                "added-files": len(entries),
                "materialized-delete-predicates": len(materialized),
                "materialized-delete-files": len(materialized_dels),
                # the rewrite dropped the rows the materialized deletes hid
                "total-records": sum(f.rows for f in files),
            },
            delete_predicates=remaining_preds,
            delete_files=remaining_dels,
        )

    table._commit_with_retry(build, snap)
    return {"rewritten": len(snap.files), "added": len(entries)}


def remove_orphan_files(table: Table, older_than_ms: int | None = None) -> dict:
    """Delete data files referenced by NO snapshot manifest — the debris a
    crashed writer leaves behind (files are written to ``data/<uuid>/``
    BEFORE the commit; a failure between write and commit orphans them).

    ``older_than_ms`` (epoch millis) guards in-flight writes: files newer
    than the cutoff are kept even if unreferenced, because a concurrent
    writer may be about to commit them. Default: 3 hours ago, matching
    Iceberg's ``remove_orphan_files`` default posture.
    """
    import time as _time

    if older_than_ms is None:
        older_than_ms = int(_time.time() * 1000) - 3 * 3600 * 1000
    live = live_paths(table.history())
    # in-flight write-audit-publish stages AND live branches reference
    # staged files only from their shadow metadata chains — treat every
    # file any shadow snapshot references as live too (a branch can
    # legitimately outlive the 3-hour cutoff; without this its staged
    # files would be collected as orphans)
    live |= _shadow_live_paths(table)
    data_root = os.path.join(table.root, "data")
    removed = kept_recent = 0
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for fn in filenames:
            abs_path = os.path.join(dirpath, fn)
            rel = os.path.relpath(abs_path, table.root).replace(os.sep, "/")
            if rel in live:
                continue
            if not fn.endswith(".parquet"):
                continue
            if os.path.getmtime(abs_path) * 1000 >= older_than_ms:
                kept_recent += 1  # possibly in-flight — leave it
                continue
            os.remove(abs_path)
            removed += 1
    # prune now-empty staging dirs (best effort)
    for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
        if dirpath != data_root and not dirnames and not filenames:
            try:
                os.rmdir(dirpath)
            except OSError:
                pass
    return {"removed": removed, "kept_recent": kept_recent}


def manifest_chain_length(table: Table, version: int | None = None) -> int:
    """Number of EXTRA manifest reads a scan of ``version`` performs to
    reconstruct its file list — the length of the delta chain
    ``TableMetadata.load_snapshot`` walks below the head. 0 means the
    manifest is self-contained (one metadata read per scan)."""
    return table.snapshot(version).chain_length


def rewrite_manifests(table: Table, include_branches: bool = True) -> dict:
    """Squash each ref head's delta-encoded manifest chain into one
    self-contained base manifest — the ``rewrite_manifests`` maintenance
    procedure (SURVEY.md §2 A35; Iceberg ``CALL
    cat.system.rewrite_manifests``). Metadata-only: ZERO data files move.

    Commits delta-encode their file list against the parent snapshot
    (``TableMetadata._encode_manifest``) so commit cost stays O(changed
    files) at 100 TB file counts — but every scan of the head then walks
    the chain (up to ``MANIFEST_FULL_EVERY − 1`` extra metadata reads)
    until snapshot expiry happens to truncate it. High-frequency
    streaming appends (the exactly-once sinks) grow this fastest. This
    procedure materializes the HEAD manifest of the handle's own chain
    and (from a main handle, when ``include_branches``) of every branch
    head, via the same atomic ``write_manifest_replace`` swap expiry
    uses: concurrent readers see old-delta or new-full, both resolving
    to identical content — crash-safe and idempotent. The full-manifest
    rule counts the parent's resolved chain, so the NEXT commit on the
    squashed head restarts the delta chain at length 1.

    Older (time-travel) manifests are left delta-encoded on purpose:
    scans read the head; expiry owns historical truncation.

    Returns per-ref before/after chain lengths (after is 0: each head
    is self-contained once rewritten) and the rewrite count.
    """
    refs: list[tuple[str, Table]] = [("main", table)]
    if include_branches:
        try:
            for name in table.list_branches():
                refs.append((f"branch/{name}", table.branch(name)))
        except Exception:  # branch dir unreadable — main-only pass
            pass
    report: dict = {"refs": len(refs), "rewritten": 0, "chains": {}}
    for ref_name, handle in refs:
        head = handle.snapshot()
        before = head.chain_length
        if before > 0:
            handle.meta.backend.write_manifest_replace(head.version, head.to_json())
            report["rewritten"] += 1
        report["chains"][ref_name] = {"before": before, "after": 0}
    return report


def convert_equality_deletes(
    table: Table,
    spark: SparkSession,
    target_file_mb: int = 64,
    shards: int | None = None,
) -> dict:
    """Materialize EQUALITY deletes into POSITION deletes — the Iceberg
    convert path that makes a delete-heavy MoR-upsert table's scan cost
    stop growing with equality-delete count.

    ``rewrite_delete_files`` deliberately leaves equality deletes alone:
    their applicability is sequence-x-key-range dependent, so merging
    them would change semantics. The convergence path is this procedure:
    for each equality-delete op, scan exactly the files it applies to
    (sequence < op's, key-range/bloom pruned — the same ``_op_applies``
    gate the scan uses), semi-join the op's key file against raw rows,
    and emit the matched ``(file_path, pos)`` pairs as position-delete
    rows. The equality ops are then dropped in the same commit, and the
    existing position-delete merge applies from here on.

    Sequence safety of stamping every emitted position with the MAX
    converted sequence: a position names an exact row, so raising its
    sequence can never widen coverage; and a data file with sequence
    >= some op's (thus never scanned for that op) contributes no
    positions, exactly mirroring the equality op's own sequence rule.
    Rows appended after the conversion have sequence > max and stay
    visible even when their keys match — same as before.

    NULL keys never match (plain-equality semi-join), identical to the
    scan-side anti-join's semantics.

    Scale: per op, only applicable files are read, projected to the key
    columns + row lineage; key files broadcast (they are O(keys)); the
    merged position set is counted once (cached, it is tiny relative to
    data) and range-sharded to ``target_file_mb`` like
    ``rewrite_delete_files``. Concurrent changes to the equality-delete
    set, or a concurrent rewrite of any scanned file (positions would
    dangle and rows resurrect), abort with
    :class:`ConcurrentModification`.
    """
    from iceberg_loader_spark.tables.table import (
        _LINEAGE_FILE,
        _LINEAGE_POS,
        _lineage_path,
        _op_applies,
        _pos_delete_ops,
        _with_lineage,
    )

    snap = table.snapshot()
    eq_ops = [d for d in snap.delete_files if d.get("kind") != "pos"]
    if not eq_ops:
        return {"converted": 0, "position_files": 0, "positions": 0}
    schema = T.StructType.fromJson(snap.schema_json)
    pos_parts = []
    scanned_paths: set[str] = set()
    for op in eq_ops:
        # stored eq ops carry no "kind" marker (the scan adds it when
        # assembling its op list) — normalize before the applicability gate
        gate = {"kind": "eq", **op}
        files = [f for f in snap.files if _op_applies(f, gate)]
        if not files:
            continue
        kcols = list(op["equality_cols"])
        kset = set(kcols)
        kschema = T.StructType([f for f in schema.fields if f.name in kset])
        keys = spark.read.schema(kschema).parquet(
            os.path.join(table.root, op["path"])
        )
        scanned_paths.update(f.path for f in files)
        raw = _with_lineage(
            spark.read.schema(schema).parquet(
                *[os.path.join(table.root, f.path) for f in files]
            )
        ).select(
            F.col(_LINEAGE_FILE).alias("file_path"),
            F.col(_LINEAGE_POS).alias("pos"),
            *kcols,
        )
        pos_parts.append(
            raw.join(F.broadcast(keys), on=kcols, how="left_semi").select(
                "file_path", "pos"
            )
        )

    entries: list[DataFile] = []
    n_pos = 0
    if pos_parts:
        merged = pos_parts[0]
        for p in pos_parts[1:]:
            merged = merged.unionByName(p)
        merged = merged.distinct().persist()
        try:
            n_pos = merged.count()
            if n_pos:
                # ~18 B/position parquet-encoded (dict-coded path + pos)
                n_shards = shards or max(
                    1, math.ceil(n_pos * 18 / (target_file_mb * 1024 * 1024))
                )
                out = (
                    merged.repartitionByRange(n_shards, "file_path", "pos")
                    if n_shards > 1
                    else merged.coalesce(1)
                )
                entries = table._write_data_files(
                    out, [], snap, sort_within=["file_path", "pos"]
                )
        finally:
            merged.unpersist()
    max_seq = max(d["sequence"] for d in eq_ops)
    # scanned (applicable) files over-approximate the referenced set
    refs = {
        _lineage_path(table.root, f): f.path
        for f in snap.files
        if f.path in scanned_paths
    }
    eq_key = {(d["path"], d["sequence"]) for d in eq_ops}

    def build(parent: Snapshot) -> Snapshot:
        parent_eq = {
            (d["path"], d["sequence"])
            for d in parent.delete_files
            if d.get("kind") != "pos"
        }
        if parent_eq != eq_key:
            raise ConcurrentModification(
                "equality-delete set changed during convert_equality_deletes;"
                " rerun the procedure"
            )
        if entries:
            parent_paths = {f.path for f in parent.files}
            gone = scanned_paths - parent_paths
            if gone:
                raise ConcurrentModification(
                    f"equality-delete conversion invalidated: {len(gone)} "
                    f"scanned file(s) rewritten concurrently (positions "
                    f"would dangle and rows resurrect)"
                )
        kept_dels = [
            d for d in parent.delete_files if d.get("kind") == "pos"
        ] + _pos_delete_ops(entries, max_seq, refs)
        return new_snapshot(
            parent,
            "convert-eq-deletes",
            parent.schema_json,
            parent.partition_spec,
            parent.files,
            parent.properties,
            {
                "converted-equality-delete-files": len(eq_ops),
                "position-delete-files": len(entries),
                "position-delete-rows": n_pos,
                "scanned-data-files": len(scanned_paths),
                "total-records": parent.total_rows,
            },
            delete_files=kept_dels,
        )

    table._commit_with_retry(build, snap)
    return {
        "converted": len(eq_ops),
        "position_files": len(entries),
        "positions": n_pos,
        "scanned_files": len(scanned_paths),
    }


def rewrite_delete_files(
    table: Table,
    spark: SparkSession,
    target_file_mb: int = 64,
    shards: int | None = None,
) -> dict:
    """Compact POSITION delete files without touching data — the
    ``rewrite_position_delete_files`` maintenance procedure (Iceberg
    ``CALL cat.system.rewrite_position_delete_files``).

    Every merge-on-read positional DELETE commits its own delete file;
    a scan then pays one anti-join per applicable delete file, so a
    delete-heavy table's read cost grows with DELETE COUNT until
    ``rewrite_data_files`` happens to materialize them. This procedure
    merges all current positional delete files into a target-sized set
    of output files (positions deduplicated) and drops DANGLING rows —
    positions referencing data files no longer in the current snapshot
    (fully-dropped by a metadata-proof delete, or rewritten) — without
    rewriting a single data row.

    Output sharding: the merged positions are RANGE-partitioned by
    ``(file_path, pos)`` into ``ceil(input_bytes / target_file_mb)``
    shards (``shards`` overrides), so on a 100 TB delete-heavy table
    no single task funnels a multi-GB merged file. Range (not hash)
    partitioning keeps each output file's ``file_path`` footer min/max
    a tight lexical range, which is exactly what scan-side
    applicability pruning (``_op_applies``) checks — each data file
    anti-joins only the shard(s) whose path range covers it. A shard
    boundary may split one hot path's positions across two shards;
    that only widens a shard's claimed range (a no-op anti-join at
    worst), never its actual coverage.

    Safety of the merged sequence number (= max of the merged files'):
    a positional delete row names an exact ``(file_path, pos)``; staging
    paths are UUID-unique and a data file's sequence is fixed at commit,
    so no data file can exist with ``sequence >= original_delete.seq``
    but ``< max_seq`` AND a referenced path — raising the sequence can
    therefore never widen applicability to rows the originals did not
    name. Rows appended AFTER the rewrite have ``sequence > max_seq``
    and stay untouched, exactly as before.

    Equality-delete files and predicate deletes are left alone: their
    applicability is sequence-×-key-range dependent, so merging them
    WOULD change semantics (an old key set would start covering newer
    files). Concurrent commits that change the positional delete set
    between scan and commit abort with :class:`ConcurrentModification`
    (rerun the procedure).
    """
    from pyspark.sql import functions as F

    from iceberg_loader_spark.tables.table import (
        _POS_DELETE_SCHEMA,
        _lineage_path,
        _pos_delete_ops,
    )

    snap = table.snapshot()
    pos_ops = [d for d in snap.delete_files if d.get("kind") == "pos"]
    if not pos_ops:
        return {"merged": 0, "files_after": 0, "positions_removed": 0}
    rows_before = sum(d.get("rows", 0) for d in pos_ops)
    paths = [os.path.join(table.root, d["path"]) for d in pos_ops]
    dels = spark.read.schema(_POS_DELETE_SCHEMA).parquet(*paths)
    # delete rows name files by the lineage path Spark reported
    lineage = {f.path: _lineage_path(table.root, f) for f in snap.files}
    live = spark.createDataFrame(
        [(p,) for p in lineage.values()], "file_path string"
    )
    est_bytes = sum(d.get("bytes", 0) for d in pos_ops)
    n_shards = shards or max(
        1, math.ceil(est_bytes / (target_file_mb * 1024 * 1024))
    )
    merged = dels.join(F.broadcast(live), "file_path", "left_semi").distinct()
    if n_shards > 1:
        merged = merged.repartitionByRange(n_shards, "file_path", "pos")
    else:
        merged = merged.coalesce(1)
    entries = table._write_data_files(
        merged, [], snap, sort_within=["file_path", "pos"]
    )
    rows_after = sum(e.rows for e in entries)
    max_seq = max(d["sequence"] for d in pos_ops)
    # "paths" (the exact referenced-file set) can only be reconstructed
    # when EVERY merged op recorded one — an op past _POS_PATHS_CAP has
    # no list, and attaching the remaining ops' union as "exact" would
    # wrongly exempt the unlisted files from the anti-join. Fall back to
    # the per-shard file_path range check in that case. Each shard's
    # list is narrowed to its own footer range, which bounds every path
    # the shard names.
    refs = None
    if all(d.get("paths") is not None for d in pos_ops):
        named = {p for d in pos_ops for p in d["paths"]}
        refs = {lin: p for p, lin in lineage.items() if p in named}
    merged_key = {(d["path"], d["sequence"]) for d in pos_ops}

    def build(parent: Snapshot) -> Snapshot:
        parent_pos = {
            (d["path"], d["sequence"])
            for d in parent.delete_files
            if d.get("kind") == "pos"
        }
        if parent_pos != merged_key:
            raise ConcurrentModification(
                "positional delete set changed during rewrite_delete_files;"
                " rerun the procedure"
            )
        kept_dels = [
            d for d in parent.delete_files if d.get("kind") != "pos"
        ] + _pos_delete_ops(entries, max_seq, refs)
        return new_snapshot(
            parent,
            "rewrite-deletes",
            parent.schema_json,
            parent.partition_spec,
            parent.files,
            parent.properties,
            {
                "merged-position-delete-files": len(pos_ops),
                "position-delete-files": len(entries),
                "position-delete-rows": rows_after,
                "positions-removed": rows_before - rows_after,  # dangling + dedup
                "total-records": parent.total_rows,
            },
            delete_files=kept_dels,
        )

    table._commit_with_retry(build, snap)
    return {
        "merged": len(pos_ops),
        "files_after": len(entries),
        # dangling positions AND deduplicated duplicates (two pos
        # deletes may name the same physical row)
        "positions_removed": rows_before - rows_after,
    }
