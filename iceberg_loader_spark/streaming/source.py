"""Streaming READ of the table layer — tail a snapshot-versioned table
as a sequence of micro-batches (Iceberg's streaming read /
``stream-from-timestamp`` shape).

:class:`TableTailReader` turns the table's append log into a pull-based
micro-batch source: each ``next_batch`` returns exactly the rows
committed since the last pulled version, via
:meth:`~iceberg_loader_spark.tables.table.Table.scan_incremental` — so a
consumer's cost per poll is proportional to the DELTA, never the table.
The walk is the table's own append-log walk
(:meth:`~iceberg_loader_spark.tables.table.Table.appended_files`, shared
with the ``sparkberg`` stream source): row-preserving snapshots,
``create`` included, are skipped, so tailing from version 0 (the
default) delivers every appended row.
Progress is an integer snapshot version: checkpointable, replayable
(pass the same version again to re-read a batch), and composable with
:class:`~iceberg_loader_spark.streaming.sink.IdempotentTableSink` for an
exactly-once table→table pipeline (tail one table, transform, commit
into another with the batch version as the idempotence marker).

This is the same contract Spark's DSv2 ``MicroBatchStream`` asks of a
source (``latestOffset`` / ``planInputPartitions(start, end)`` /
``commit``): ``current_version`` is the offset, ``next_batch`` plans the
range scan. Implementing it against the public DSv2 Python API would
only re-wrap these two calls; the pull loop keeps the dependency surface
to plain DataFrames and works under any driver session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_loader_spark.tables.table import Table


class TableTailReader:
    """Pull-based micro-batch tail over a table's append log.

    Usage::

        reader = TableTailReader(table, from_version=0)
        while poll():
            batch = reader.next_batch(spark)   # None = caught up
            if batch is not None:
                process(batch, batch_version=reader.position)
    """

    def __init__(self, table: Table, from_version: int = 0):
        self.table = table
        self.position = from_version  # last version already consumed

    def latest_version(self) -> int:
        return self.table.meta.current_version()

    def next_batch(self, spark: SparkSession) -> DataFrame | None:
        """Rows committed after ``position`` up to the current snapshot,
        or ``None`` when caught up. Advances ``position`` to the scanned
        snapshot — re-reading after a consumer crash means simply not
        persisting the advanced position (offset semantics)."""
        target = self.latest_version()
        if target <= self.position:
            return None
        df = self.table.scan_incremental(
            spark, self.position, to_version=target
        )
        self.position = target
        return df

    def batches(self, spark: SparkSession):
        """Drain all currently-committed batches (one DataFrame per poll
        that found data). A live tail would wrap this in a poll loop."""
        while True:
            df = self.next_batch(spark)
            if df is None:
                return
            yield df
