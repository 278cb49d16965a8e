"""Snaptable on-disk format: JSON snapshot manifests + atomic commits.

Layout of one table::

    <table_root>/
      data/                  parquet data files (written by Spark executors)
      _meta/
        v000000001.json      snapshot manifest, one per commit
        _current             text file holding the current version number

Commit protocol (single atomic step): write ``v{N}.json``, then publish by
writing ``_current`` via temp-file + ``os.replace`` (atomic on POSIX).
Concurrent writers race on the version number: a committer that finds
``v{N}.json`` already existing re-reads ``_current`` and retries on top of
the new state, up to ``commit.retry.num-retries`` times — the same
optimistic-concurrency contract as Iceberg's metastore commit (reference
pins 10 retries, ``core/config.py:15-17``).

Manifest contents are deliberately metadata-only-planning friendly: each
file entry carries row count, byte size, its partition-value tuple, and
per-column min/max stats, so the reader prunes files without touching data
(the moral equivalent of Iceberg manifest entries).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

META_DIR = "_meta"
DATA_DIR = "data"
CURRENT_FILE = "_current"

#: Default table properties — the reference's TABLE_PROPERTIES
#: (core/config.py:11-18), same Iceberg property keys.
DEFAULT_TABLE_PROPERTIES = {
    "write.format.default": "parquet",
    "format-version": "2",
    "write.parquet.compression-codec": "zstd",
    "commit.retry.num-retries": "10",
    "commit.retry.min-wait-ms": "100",
    "commit.retry.max-wait-ms": "60000",
}


@dataclass
class DataFile:
    """One immutable parquet data file tracked by a snapshot."""

    path: str  # relative to table root
    rows: int
    bytes: int
    partition: dict[str, object] = field(default_factory=dict)
    # column -> [min, max] (JSON-encodable scalars); used for file pruning
    stats: dict[str, list] = field(default_factory=dict)
    # data sequence number (Iceberg v2): the snapshot version at which the
    # file was ADDED. Merge-on-read delete predicates apply only to files
    # with a LOWER sequence — rows appended after the delete are untouched.
    # Files from pre-MoR manifests default to 0 (every delete applies).
    sequence: int = 0
    # optional key bloom filter (write.bloom.keys property; tables/bloom.py):
    # {"keys": [cols], "m": bits, "k": hashes, "b64": base64-bitmap} — the
    # second file-skipping tier for equality deletes after min/max ranges.
    bloom: dict | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "partition": self.partition,
            "stats": self.stats,
            "sequence": self.sequence,
        }
        if self.bloom is not None:
            d["bloom"] = self.bloom
        return d

    @classmethod
    def from_json(cls, d: dict) -> DataFile:
        return cls(
            path=d["path"],
            rows=d["rows"],
            bytes=d["bytes"],
            partition=d.get("partition", {}),
            stats=d.get("stats", {}),
            sequence=d.get("sequence", 0),
            bloom=d.get("bloom"),
        )


@dataclass
class Snapshot:
    """One committed table version."""

    version: int
    snapshot_id: str
    parent_version: int | None
    timestamp_ms: int
    operation: str  # append | overwrite | delete | merge | replace (compaction)
    schema_json: dict  # Spark StructType.jsonValue()
    partition_spec: list[dict]  # [{"transform","source","name","param"}]
    files: list[DataFile]
    properties: dict[str, str]
    summary: dict[str, object] = field(default_factory=dict)
    # pending merge-on-read delete predicates, each
    # {"where": <predicate string>, "sequence": <commit version>} —
    # applied at scan time to files with sequence < the predicate's;
    # cleared when a compaction materializes them (Iceberg v2 delete
    # files play this role; a predicate is the degenerate O(1) form)
    delete_predicates: list = field(default_factory=list)
    # pending equality-delete files (Iceberg v2), each
    # {"path": <parquet of key rows>, "equality_cols": [...],
    #  "sequence": int, "rows": int, "bytes": int} — scan anti-joins
    # lower-sequence data files against the key rows; the MoR upsert
    # (merge(mode='mor')) commits one of these plus the new data files
    delete_files: list = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(f.rows for f in self.files)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "snapshot_id": self.snapshot_id,
            "parent_version": self.parent_version,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "schema": self.schema_json,
            "partition_spec": self.partition_spec,
            "files": [f.to_json() for f in self.files],
            "properties": self.properties,
            "summary": self.summary,
            "delete_predicates": self.delete_predicates,
            "delete_files": self.delete_files,
        }

    @classmethod
    def from_json(cls, d: dict) -> Snapshot:
        return cls(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent_version=d.get("parent_version"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            schema_json=d["schema"],
            partition_spec=d.get("partition_spec", []),
            files=[DataFile.from_json(f) for f in d.get("files", [])],
            properties=d.get("properties", {}),
            summary=d.get("summary", {}),
            delete_predicates=d.get("delete_predicates", []),
            delete_files=d.get("delete_files", []),
        )


class CommitConflict(Exception):
    """Another writer committed the version we targeted (retryable)."""


class ConcurrentModification(Exception):
    """A concurrent commit invalidated this operation's scanned input
    (NOT retryable by rebase — the caller must re-scan and re-run).

    Raised when a copy-on-write rewrite (delete/merge/compaction)
    discovers, during its commit retry, that files it scanned were
    removed or that new data files appeared that its candidate
    selection never saw — the same situation where Iceberg fails
    snapshot validation instead of committing."""


class MetadataBackend:
    """Catalog/metadata I/O seam: everything ``TableMetadata`` needs from
    the storage layer, so an object-store or Iceberg-catalog backend can
    be slotted in without touching ``Table``.

    The contract mirrors an Iceberg catalog commit: manifests are
    immutable blobs keyed by version, ``write_manifest_exclusive`` must
    fail (:class:`CommitConflict`) if the version already exists — this
    is the linearization point — and ``publish_current`` atomically
    repoints the table. On S3 the exclusive write maps to
    ``If-None-Match: *`` conditional PUT; on a metastore/REST catalog it
    maps to the CAS table-pointer swap.
    """

    def exists(self) -> bool:
        raise NotImplementedError

    def read_current(self) -> int:
        raise NotImplementedError

    def read_manifest(self, version: int) -> dict:
        """Raises FileNotFoundError if the manifest was expired/deleted."""
        raise NotImplementedError

    def list_versions(self) -> list[int]:
        raise NotImplementedError

    def write_manifest_exclusive(self, version: int, payload: dict) -> None:
        raise NotImplementedError

    def write_manifest_replace(self, version: int, payload: dict) -> None:
        """Atomically REPLACE an existing manifest (expiry-time
        materialization of delta-encoded manifests — the one sanctioned
        mutation; readers must see either the old or the new body)."""
        raise NotImplementedError

    def publish_current(self, version: int) -> None:
        raise NotImplementedError

    def delete_manifest(self, version: int) -> None:
        raise NotImplementedError

    def drop(self) -> None:
        """Delete ALL table metadata (manifests + current pointer)."""
        raise NotImplementedError


class LocalFSBackend(MetadataBackend):
    """POSIX-filesystem backend: exclusive O_CREAT manifest write +
    ``os.replace`` pointer publish (both atomic on POSIX).

    ``meta_dir`` overrides the metadata location (default
    ``<root>/_meta``) — write-audit-publish shadows park their staging
    metadata under ``<root>/_wap/<id>`` while sharing the table root."""

    def __init__(self, root: str, meta_dir: str | None = None):
        self.meta_dir = meta_dir or os.path.join(root, META_DIR)

    def _current_path(self) -> str:
        return os.path.join(self.meta_dir, CURRENT_FILE)

    def manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:09d}.json")

    def exists(self) -> bool:
        return os.path.isfile(self._current_path())

    def read_current(self) -> int:
        with open(self._current_path()) as f:
            return int(f.read().strip())

    def read_manifest(self, version: int) -> dict:
        with open(self.manifest_path(version)) as f:
            return json.load(f)

    def list_versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def write_manifest_exclusive(self, version: int, payload: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        # Write the full payload to a temp file first, then publish it
        # with os.link — atomic AND exclusive (link(2) fails with EEXIST
        # if the target exists). A crash can therefore never leave a
        # torn half-written manifest at a version number, which would
        # otherwise block that version forever (unparseable orphans are
        # deliberately not auto-recovered, see _recover_orphan).
        tmp = os.path.join(self.meta_dir, f".v{version}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f, separators=(",", ":"))
        try:
            os.link(tmp, self.manifest_path(version))
        except FileExistsError as e:
            raise CommitConflict(f"v{version} already committed") from e
        except OSError:
            # filesystem without hardlinks: fall back to exclusive create
            # (loses torn-write immunity, keeps the exclusivity contract)
            try:
                fd = os.open(
                    self.manifest_path(version),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError as e:
                raise CommitConflict(f"v{version} already committed") from e
            with os.fdopen(fd, "w") as f, open(tmp) as src:
                f.write(src.read())
        finally:
            os.unlink(tmp)

    def write_manifest_replace(self, version: int, payload: dict) -> None:
        tmp = os.path.join(
            self.meta_dir, f".v{version}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump(payload, f, separators=(",", ":"))
        os.replace(tmp, self.manifest_path(version))  # atomic swap

    def publish_current(self, version: int) -> None:
        # Monotonic publish: with orphan recovery (_recover_orphan) there
        # can be two publishers for one version — a slow-but-alive writer
        # and the competitor that recovered its manifest. If the slow
        # writer's delayed publish ran unguarded after newer commits, it
        # would roll the pointer backwards. ObjectStoreBackend enforces
        # "never move the pointer backwards" with a CAS loop; here an
        # flock-serialized read-compare-replace gives the same guarantee.
        import fcntl

        os.makedirs(self.meta_dir, exist_ok=True)
        lock_path = os.path.join(self.meta_dir, f".{CURRENT_FILE}.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                if self.read_current() >= version:
                    return
            except (OSError, ValueError):
                pass  # no/unreadable pointer: first publish wins
            tmp = os.path.join(
                self.meta_dir, f".{CURRENT_FILE}.{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, self._current_path())

    def delete_manifest(self, version: int) -> None:
        os.remove(self.manifest_path(version))

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.meta_dir, ignore_errors=True)


class TableMetadata:
    """Metadata accessor + committer for one table root.

    All storage I/O goes through ``backend`` (default: local POSIX) —
    see :class:`MetadataBackend` for the swap contract.
    """

    def __init__(self, root: str, backend: MetadataBackend | None = None):
        self.root = root
        self.backend = backend if backend is not None else LocalFSBackend(root)

    # ---- reads -----------------------------------------------------------

    def exists(self) -> bool:
        return self.backend.exists()

    def current_version(self) -> int:
        return self.backend.read_current()

    # write a self-contained manifest at least every K commits: bounds
    # the delta-resolution chain AND the blast radius of a lost manifest
    MANIFEST_FULL_EVERY = 8

    def load_snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
        return Snapshot.from_json(self._resolve_manifest(version))

    def _resolve_manifest(self, version: int) -> dict:
        """Read a manifest, reconstructing the full file list from the
        delta encoding (base + added/removed) when present."""
        return self._resolve_payload(self.backend.read_manifest(version))

    def _resolve_payload(self, payload: dict) -> dict:
        """Full form of an already-read manifest payload (reads only the
        delta chain below it)."""
        if "files_base" not in payload:
            return payload
        base = self._resolve_manifest(payload["files_base"])
        removed = set(payload.get("files_removed", []))
        files = [
            f for f in base.get("files", []) if f["path"] not in removed
        ] + payload.get("files_added", [])
        full = dict(payload)
        full.pop("files_base", None)
        full.pop("files_removed", None)
        full.pop("files_added", None)
        full["files"] = files
        return full

    def delete_snapshot_manifest(self, version: int) -> None:
        self.backend.delete_manifest(version)

    def list_versions(self) -> list[int]:
        return self.backend.list_versions()

    def snapshots(self) -> list[Snapshot]:
        return [self.load_snapshot(v) for v in self.list_versions()]

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Newest snapshot committed at or before ``timestamp_ms``."""
        candidates = [s for s in self.snapshots() if s.timestamp_ms <= timestamp_ms]
        if not candidates:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return max(candidates, key=lambda s: s.version)

    # ---- commits ---------------------------------------------------------

    def commit(self, snapshot: Snapshot, expected_parent: int | None) -> Snapshot:
        """Atomically publish ``snapshot``.

        ``expected_parent`` is the version the writer based its changes on
        (None for table creation). Raises :class:`CommitConflict` if the
        table has advanced past it.
        """
        current = self.current_version() if self.exists() else None
        if current != expected_parent:
            raise CommitConflict(
                f"table at v{current}, writer expected v{expected_parent}"
            )
        try:
            self.backend.write_manifest_exclusive(
                snapshot.version,
                self._encode_manifest(snapshot, expected_parent),
            )
        except CommitConflict:
            # A manifest already exists at our target version. Either a
            # concurrent writer beat us (it will/did publish — normal
            # race) or a previous writer CRASHED between manifest write
            # and pointer publish, leaving an orphan that would wedge the
            # table forever (every retry rebases to the same parent and
            # loses the exclusive create again). Recover the orphan, then
            # surface the conflict so the caller rebases.
            self._recover_orphan(snapshot.version)
            raise
        self.backend.publish_current(snapshot.version)
        return snapshot

    def _encode_manifest(
        self, snapshot: Snapshot, parent_version: int | None
    ) -> dict:
        """Delta-encode the file list against the parent manifest when
        the change set is small: commit metadata becomes O(changed
        files), not O(table) — the property that keeps commit cost flat
        at 100 TB file counts. Falls back to a self-contained manifest
        when the parent is unreadable, the chain is
        ``MANIFEST_FULL_EVERY`` deep, or the delta wouldn't pay
        (overwrite/compaction/rollback churn most of the file set)."""
        payload = snapshot.to_json()
        if parent_version is None:
            return payload
        try:
            parent_raw = self.backend.read_manifest(parent_version)
            parent_full = self._resolve_payload(parent_raw)
        except Exception:
            return payload
        depth = parent_raw.get("files_delta_depth", 0)
        if depth + 1 >= self.MANIFEST_FULL_EVERY:
            return payload
        parent_by_path = {
            f["path"]: f for f in parent_full.get("files", [])
        }
        cur = payload["files"]
        cur_paths = {f["path"] for f in cur}
        added = [
            f
            for f in cur
            if parent_by_path.get(f["path"]) != f  # new OR changed entry
        ]
        removed = [
            p for p in parent_by_path if p not in cur_paths
        ] + [
            f["path"]
            for f in cur
            if f["path"] in parent_by_path
            and parent_by_path[f["path"]] != f
        ]
        if 2 * (len(added) + len(removed)) > max(1, len(cur)):
            return payload
        delta = dict(payload)
        del delta["files"]
        delta["files_base"] = parent_version
        delta["files_delta_depth"] = depth + 1
        delta["files_added"] = added
        delta["files_removed"] = removed
        return delta

    def _recover_orphan(self, version: int) -> None:
        """Roll the table pointer forward over a crashed writer's
        completed-but-unpublished manifest at ``version``.

        Only acts when the manifest is provably an orphan: ``_current``
        still points below ``version`` AND the manifest parses AND its
        ``parent_version`` equals the current pointer (i.e. it is the
        legitimate next snapshot that was never published). Publishing it
        is idempotent with the original writer's own publish, so a
        still-alive writer racing us is harmless. Unreadable/partial
        manifests (crash mid-write) are left alone — they may be a
        concurrent writer mid-flight.
        """
        try:
            current = self.current_version() if self.exists() else None
        except OSError:
            return
        if current is not None and current >= version:
            return  # genuine race: the other writer published; just rebase
        try:
            payload = self.backend.read_manifest(version)
        except Exception:
            return  # partial or vanished manifest — nothing provable
        if (
            payload.get("version") == version
            and payload.get("parent_version") == current
        ):
            self.backend.publish_current(version)


_INHERIT = object()  # sentinel: carry the parent's delete predicates


def new_snapshot(
    parent: Snapshot | None,
    operation: str,
    schema_json: dict,
    partition_spec: list[dict],
    files: list[DataFile],
    properties: dict[str, str],
    summary: dict[str, object] | None = None,
    delete_predicates=_INHERIT,
    delete_files=_INHERIT,
) -> Snapshot:
    version = 1 if parent is None else parent.version + 1
    if delete_predicates is _INHERIT:
        delete_predicates = list(parent.delete_predicates) if parent else []
    if delete_files is _INHERIT:
        delete_files = list(parent.delete_files) if parent else []
    return Snapshot(
        version=version,
        snapshot_id=uuid.uuid4().hex,
        parent_version=None if parent is None else parent.version,
        timestamp_ms=int(time.time() * 1000),
        operation=operation,
        schema_json=schema_json,
        partition_spec=partition_spec,
        files=files,
        properties=properties,
        summary=summary or {},
        delete_predicates=delete_predicates,
        delete_files=delete_files,
    )
