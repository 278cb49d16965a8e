"""Exactly-once streaming sink into the table layer.

Structured Streaming's ``foreachBatch`` contract is at-least-once: after
a crash between the sink's side effect and the checkpoint commit, the
SAME micro-batch (same ``batch_id``) is re-executed. A plain
``table.append`` sink therefore duplicates rows on recovery.

:class:`IdempotentTableSink` closes the gap with the standard
transactional-sink recipe (the same one Spark's DSv2 + Iceberg use): the
batch id is committed into the table's properties ATOMICALLY with the
data (one snapshot), and every commit attempt compares the incoming
``batch_id`` against its parent's marker — a replayed batch, even one a
concurrent run committed first, is skipped and its staged files are
deleted, so each micro-batch lands exactly once.

Scale notes: the progress marker is one table property (O(1) metadata);
the guard reads only the commit's own parent, so a replay still pays
its data write. Distinct streams writing one table isolate via
``marker_key``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from iceberg_loader_spark.tables.catalog import Warehouse
from iceberg_loader_spark.tables.partitioning import PartitionField
from iceberg_loader_spark.tables.table import (
    Table,
    _marked_append_build,
    _NothingToCommit,
    _spec,
    discard_files,
)

log = logging.getLogger(__name__)


class IdempotentTableSink:
    """``foreachBatch`` callable with exactly-once table commits.

    Usage::

        sink = IdempotentTableSink(warehouse, "db.events_sink")
        stream.writeStream.foreachBatch(sink).start()
    """

    def __init__(
        self,
        warehouse: Warehouse | str,
        identifier: str,
        partition_spec: list[PartitionField] | None = None,
        properties: dict[str, str] | None = None,
        marker_key: str = "default",
    ):
        self.warehouse = (
            warehouse
            if isinstance(warehouse, Warehouse)
            else Warehouse(warehouse)
        )
        self.identifier = identifier
        self.partition_spec = partition_spec
        self.properties = properties
        self.marker_prop = f"streaming.{marker_key}.last-batch-id"
        self.skipped_batches = 0  # replay-detection counter (observable)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.warehouse.table_exists(self.identifier):
            table = self.warehouse.load_table(self.identifier)
        else:
            table = Table.create(
                self.warehouse,
                self.identifier,
                batch_df.schema,
                partition_spec=self.partition_spec,
                properties=self.properties,
            )
        head = table.snapshot()
        entries = table._write_data_files(batch_df, _spec(head), head)
        try:
            table._commit_with_retry(
                _marked_append_build(entries, self.marker_prop, batch_id), head
            )
        except _NothingToCommit as done:
            discard_files(table.root, [e.path for e in entries])
            self.skipped_batches += 1
            log.info(
                "skipping replayed micro-batch %d for %s "
                "(last committed: %s)",
                batch_id,
                self.identifier,
                done.snapshot.properties.get(self.marker_prop),
            )


class FanOutSink:
    """``foreachBatch`` callable routing ONE micro-batch to N tables,
    each exactly-once.

    ``routes`` is a list of ``(transform, sink)`` pairs: ``transform``
    maps the micro-batch DataFrame to that route's rows (``None`` =
    pass-through) and ``sink`` is an :class:`IdempotentTableSink` (or any
    callable with the same replay-skip contract). Because every route
    keeps its OWN batch-id marker committed atomically with its rows, the
    composite is idempotent under PARTIAL failure: a crash after route k
    commits replays the whole batch — routes 1..k detect the replay and
    skip, routes k+1..N land. Route order therefore does not matter for
    correctness, only for which routes need the replay to finish.

    The micro-batch is persisted for the duration of the fan-out so the
    source is computed once, not once per route (``foreachBatch`` hands a
    lazy frame; N routes would otherwise re-read the source N times).

    Scale notes: one ``persist`` of a micro-batch (bounded by trigger
    size), then per-route filters run map-only over the cached rows; each
    route's commit is the O(1)-metadata marker append of
    :class:`IdempotentTableSink`.
    """

    def __init__(self, routes):
        self.routes = list(routes)
        # Two routes sharing one (table, marker_key) would fight over the
        # same replay marker: the first to commit a batch makes every
        # other such route silently skip it — rows lost with no error.
        # Reject the configuration up front (duck-typed: only sinks that
        # expose the IdempotentTableSink attributes are checked).
        seen: set[tuple[str, str]] = set()
        for _, sink in self.routes:
            ident = getattr(sink, "identifier", None)
            marker = getattr(sink, "marker_prop", None)
            if ident is None or marker is None:
                continue
            key = (ident, marker)
            if key in seen:
                raise ValueError(
                    f"duplicate route target {key}: routes writing the same "
                    "table must use distinct marker_key values"
                )
            seen.add(key)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for transform, sink in self.routes:
                routed = transform(batch_df) if transform else batch_df
                sink(routed, batch_id)
        finally:
            batch_df.unpersist()
