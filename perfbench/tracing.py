"""In-memory span tracer for the traced benchmark run.

Wrappers are installed around the public functions of each layer only
while a traced pass runs. A function is patched on its class, or in
every loaded ``iceberg_loader_spark`` module that binds it through
``from ... import``, so calls resolve to the wrapper wherever the name is
looked up. Spans are kept in memory as (name, start, end, parent, run id,
attrs) and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    root: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._paused = 0
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans ------------------------------------------------------------

    def _open(self, name: str, attrs: dict) -> int:
        parent = self._stack[-1] if self._stack else None
        root = self.spans[parent].root if parent is not None else len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), parent=parent, root=root,
                 run_id=self.run_id, attrs=attrs)
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, attrs: dict):
        """Span around a block; the caller may add to ``attrs`` until the
        block ends."""
        idx = self._open(name, attrs)
        try:
            yield attrs
        finally:
            self._close(idx)

    @contextlib.contextmanager
    def paused(self):
        """Calls inside run unrecorded (correctness gates, bookkeeping)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def wrap(self, fn, name: str, post=None):
        """Span around every call of ``fn``. ``post(attrs, args, result)``
        adds counts from the call's arguments and result. A generator's
        work is timed per ``next`` under the same span name."""
        tracer = self

        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                it = fn(*args, **kwargs)
                while True:
                    if tracer._paused:
                        yield from it
                        return
                    idx = tracer._open(name, {})
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                    finally:
                        tracer._close(idx)
                    yield item

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            idx = tracer._open(name, {})
            try:
                result = fn(*args, **kwargs)
            except Exception as e:
                tracer.spans[idx].attrs["error"] = type(e).__name__
                raise
            finally:
                tracer._close(idx)
            if post is not None:
                with tracer.paused():
                    post(tracer.spans[idx].attrs, args, result)
            return result

        return wrapper

    # ---- patching ---------------------------------------------------------

    def patch_method(self, cls, attr: str, name: str, post=None) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(orig, name, post))

    def patch_function(self, orig, name: str, post=None) -> None:
        """Replace ``orig`` in every loaded package module bound to it."""
        wrapper = self.wrap(orig, name, post)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("iceberg_loader_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- output -----------------------------------------------------------

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part its direct children cover (spans
        of one thread nest, so the children never overlap)."""
        child = sum(s.ms for s in self.spans if s.parent == idx)
        return self.spans[idx].ms - child

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "attrs": s.attrs,
                }, default=str) + "\n")


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry point of every layer the workloads reach."""
    from iceberg_loader_spark import loader
    from iceberg_loader_spark.sources import normalize
    from iceberg_loader_spark.sources import tables as sources_tables
    from iceberg_loader_spark.tables import filters, maintenance
    from iceberg_loader_spark.tables.format import LocalFSBackend, TableMetadata
    from iceberg_loader_spark.tables.table import Table

    def appended(attrs, args, snap):
        attrs["files_added"] = int(snap.summary.get("added-files", 0))

    def merged(attrs, args, snap):
        attrs["files_rewritten"] = int(snap.summary.get("rewritten-files", 0))
        attrs["bytes_written"] = sum(
            f.bytes for f in snap.files if f.sequence == snap.version
        )

    def committed(attrs, args, snap):
        path = getattr(args[0].backend, "manifest_path", None)
        if path is not None:
            attrs["manifest_bytes"] = os.path.getsize(path(snap.version))

    def pruned(attrs, args, result):
        expr, files = args[0], args[1]
        attrs["filtered"] = bool(expr)
        attrs["files_in"] = len(files)
        attrs["files_kept"] = len(result[0])

    def compacted(attrs, args, result):
        files = args[0].snapshot().files
        attrs["files_before"] = result.get("rewritten", 0)
        attrs["files_after"] = len(files)
        attrs["bytes_after"] = sum(f.bytes for f in files)

    def expired(attrs, args, result):
        attrs["manifests_expired"] = result.get("expired", 0)

    tracer.patch_method(loader.SparkLoader, "load_data", "loader.load_data")
    tracer.patch_function(
        normalize.create_record_batches_from_dicts,
        "sources.normalize.create_record_batches_from_dicts",
    )
    tracer.patch_function(normalize.cast_to_schema, "sources.normalize.cast_to_schema")
    tracer.patch_method(Table, "append", "tables.table.append", appended)
    tracer.patch_method(Table, "merge", "tables.table.merge", merged)
    tracer.patch_method(Table, "scan", "tables.table.scan")
    tracer.patch_method(Table, "add_columns", "tables.table.add_columns")
    tracer.patch_method(TableMetadata, "load_snapshot", "tables.format.load_snapshot")
    tracer.patch_method(TableMetadata, "commit", "tables.format.commit", committed)
    tracer.patch_method(LocalFSBackend, "read_manifest", "tables.format.read_manifest")
    tracer.patch_function(filters.prune_files, "tables.filters.prune_files", pruned)
    tracer.patch_function(
        maintenance.rewrite_data_files, "tables.maintenance.rewrite_data_files",
        compacted,
    )
    tracer.patch_function(
        maintenance.expire_snapshots, "tables.maintenance.expire_snapshots", expired
    )
    tracer.patch_function(sources_tables.load_table, "sources.tables.load_table")
