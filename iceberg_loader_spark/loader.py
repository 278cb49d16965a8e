"""High-level loader: the reference's public API, Spark-executed.

Entry points mirror ``/root/reference src/iceberg_loader/__init__.py:7-13``:

* :meth:`SparkLoader.load_data` — one in-memory table (Arrow/pandas/dicts/
  Spark DataFrame), chunked to batches, delegated to the batch path
  (reference core/loader.py:39-54)
* :meth:`SparkLoader.load_data_batches` — the central buffered loop: one
  flush (= one snapshot) per ``commit_interval`` batches
  (core/loader.py:178-258, buffer limit ``max(1, interval)`` :214)
* :meth:`SparkLoader.load_ipc_stream` — Arrow IPC stream source
  (core/loader.py:56-68)

Per-flush pipeline (core/loader.py:109-176): concat buffered batches
(mixed-schema fallback re-normalizes every batch, :70-107) → add the
load-timestamp audit column (:137-143) → ensure table exists
(schema inference + string→timestamp partition promotion,
core/schema.py:114-142) → evolve schema if enabled (:52-78) → cast to
table schema with NULL fallback (utils/arrow.py:105-134) → strategy
write. The overwrite/delete strategies clear only on the FIRST flush of a
call; later flushes append (core/strategies.py:42-48, 62-66).
"""

from __future__ import annotations

import datetime as dt
import logging
from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.sources.normalize import (
    cast_to_schema,
    create_record_batches_from_dicts,
)
from iceberg_loader_spark.sources.tables import ensure_compat
from iceberg_loader_spark.tables.catalog import Warehouse
from iceberg_loader_spark.tables.partitioning import (
    TIME_TRANSFORMS,
    PartitionField,
)
from iceberg_loader_spark.tables.table import Table
from iceberg_loader_spark.types import (
    arrow_schema_to_spark,
    arrow_to_spark,
    spark_to_arrow,
)

log = logging.getLogger(__name__)


def _normalize_arrow_types(table: pa.Table) -> pa.Table:
    """Map every column through the type registry (uint64→decimal(20,0),
    ns→µs timestamps, null→string, …) so Spark sees storage types."""
    target = pa.schema(
        [
            pa.field(f.name, spark_to_arrow(arrow_to_spark(f.type)), nullable=True)
            for f in table.schema
        ]
    )
    return cast_to_schema(table, target)


class SparkLoader:
    """Orchestrator bound to a SparkSession + Warehouse (the reference's
    ``IcebergLoader`` bound to a PyIceberg catalog, core/loader.py:20-37)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        config: LoaderConfig | None = None,
    ):
        ensure_compat(spark)
        self.spark = spark
        self.warehouse = warehouse
        self.config = config or LoaderConfig()

    # ---- public entry points --------------------------------------------

    def load_data(
        self, data, table_identifier: str, config: LoaderConfig | None = None
    ) -> dict:
        cfg = config or self.config
        if isinstance(data, DataFrame):
            batches = iter(data.toArrow().to_batches(max_chunksize=cfg.batch_size))
        elif isinstance(data, pa.Table):
            batches = iter(data.to_batches(max_chunksize=cfg.batch_size))
        elif isinstance(data, list):
            batches = create_record_batches_from_dicts(iter(data), cfg.batch_size)
        else:  # pandas
            import pandas as pd

            if isinstance(data, pd.DataFrame):
                batches = iter(
                    pa.Table.from_pandas(data).to_batches(max_chunksize=cfg.batch_size)
                )
            else:
                raise TypeError(f"unsupported data type: {type(data)}")
        return self.load_data_batches(batches, table_identifier, cfg)

    def load_ipc_stream(
        self, stream_source, table_identifier: str, config: LoaderConfig | None = None
    ) -> dict:
        """Arrow IPC stream (path/file/socket) → batch path (loader.py:56-68)."""
        reader = pa.ipc.open_stream(stream_source)
        return self.load_data_batches(iter(reader), table_identifier, config)

    def load_data_batches(
        self,
        batch_iterator: Iterable[pa.RecordBatch] | Iterator[pa.RecordBatch],
        table_identifier: str,
        config: LoaderConfig | None = None,
    ) -> dict:
        cfg = config or self.config
        state = _LoadState(self, table_identifier, cfg)
        buffer: list[pa.RecordBatch] = []
        for batch in batch_iterator:
            buffer.append(batch)
            state.batches_processed += 1
            if len(buffer) >= cfg.buffer_limit:
                state.flush(buffer)
                buffer = []
        if buffer:
            state.flush(buffer)
        return state.result()


# ---- module-level convenience API ---------------------------------------
# The reference's quickstart surface (src/iceberg_loader/__init__.py:7-13,
# iceberg_loader.py:13-52): one-call loads that construct the loader
# internally. ``Warehouse`` plays the reference's ``Catalog`` role.


def load_data_to_table(
    data,
    table_identifier: str,
    spark: SparkSession,
    warehouse: Warehouse | str,
    config: LoaderConfig | None = None,
) -> dict:
    """One-call load of an in-memory dataset (Arrow table, pandas
    DataFrame, Spark DataFrame, or list of dicts) into a table —
    the reference's ``load_data_to_iceberg`` (iceberg_loader.py:13-24)."""
    loader = SparkLoader(spark, _as_warehouse(warehouse), config)
    return loader.load_data(data, table_identifier, config)


def load_batches_to_table(
    batch_iterator: Iterable[pa.RecordBatch] | Iterator[pa.RecordBatch],
    table_identifier: str,
    spark: SparkSession,
    warehouse: Warehouse | str,
    config: LoaderConfig | None = None,
) -> dict:
    """One-call buffered batch-iterator load — the reference's
    ``load_batches_to_iceberg`` (iceberg_loader.py:27-38)."""
    loader = SparkLoader(spark, _as_warehouse(warehouse), config)
    return loader.load_data_batches(batch_iterator, table_identifier, config)


def load_ipc_stream_to_table(
    stream_source,
    table_identifier: str,
    spark: SparkSession,
    warehouse: Warehouse | str,
    config: LoaderConfig | None = None,
) -> dict:
    """One-call Arrow IPC stream load — the reference's
    ``load_ipc_stream_to_iceberg`` (iceberg_loader.py:41-52)."""
    loader = SparkLoader(spark, _as_warehouse(warehouse), config)
    return loader.load_ipc_stream(stream_source, table_identifier, config)


def _as_warehouse(warehouse: Warehouse | str) -> Warehouse:
    """Accept a Warehouse or a plain root path (quickstart ergonomics)."""
    return warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)


class _LoadState:
    """Per-call strategy + flush state (first-write decay, loader.py:203-208)."""

    def __init__(self, loader: SparkLoader, identifier: str, cfg: LoaderConfig):
        self.loader = loader
        self.identifier = identifier
        self.cfg = cfg
        self.is_first_write = True
        self.batches_processed = 0
        self.rows_loaded = 0
        self.new_table_created = False
        self.snapshot_id: str | None = None
        self.table: Table | None = None
        self.load_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    # ---- flush pipeline --------------------------------------------------

    def flush(self, buffer: list[pa.RecordBatch]) -> None:
        spark = self.loader.spark
        data = self._concat(buffer)
        data = _normalize_arrow_types(data)
        if self.cfg.load_timestamp:
            col = pa.array([self.load_ts] * data.num_rows, pa.timestamp("us"))
            if self.cfg.load_ts_col in data.column_names:
                data = data.drop_columns([self.cfg.load_ts_col])
            data = data.append_column(
                pa.field(self.cfg.load_ts_col, pa.timestamp("us"), nullable=True), col
            )
        self._ensure_table(data)
        table_schema = self._evolve(data)
        arrow_target = pa.schema(
            [
                pa.field(f.name, spark_to_arrow(f.dataType), nullable=True)
                for f in table_schema.fields
            ]
        )
        data = cast_to_schema(data, arrow_target)
        df = spark.createDataFrame(data, schema=table_schema)
        # size the write: ~128 MB in-memory bytes per output file, so small
        # flushes produce one file instead of one near-empty file per core
        target_parts = max(1, -(-data.nbytes // (128 * 1024 * 1024)))
        if target_parts < df.rdd.getNumPartitions():
            df = df.coalesce(target_parts)
        snap = self._write(df)
        self.snapshot_id = snap.snapshot_id
        self.rows_loaded += data.num_rows
        self.is_first_write = False

    def _concat(self, buffer: list[pa.RecordBatch]) -> pa.Table:
        tables = [pa.Table.from_batches([b]) for b in buffer]
        try:
            return pa.concat_tables(tables)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            # mixed schemas mid-buffer: union schema, re-normalize each
            # batch (reference _normalize_batches, loader.py:70-107)
            fields: list[pa.Field] = []
            seen: set[str] = set()
            for t in tables:
                for f in t.schema:
                    if f.name not in seen:
                        seen.add(f.name)
                        fields.append(pa.field(f.name, f.type, nullable=True))
            union = pa.schema(fields)
            return pa.concat_tables([cast_to_schema(t, union) for t in tables])

    def _partition_spec(self, data: pa.Table) -> list[PartitionField]:
        pf = self.cfg.partition_field
        return [pf] if pf is not None else []

    def _ensure_table(self, data: pa.Table) -> None:
        if self.table is not None:
            return
        wh = self.loader.warehouse
        if wh.table_exists(self.identifier):
            self.table = wh.load_table(self.identifier)
            return
        schema = arrow_schema_to_spark(data.schema)
        spec = self._partition_spec(data)
        # string→timestamp promotion for time transforms on string columns
        # (reference core/schema.py:114-142)
        if spec:
            pf = spec[0]
            by_name = {f.name: f for f in schema.fields}
            src = by_name.get(pf.source)
            if (
                pf.transform in TIME_TRANSFORMS
                and src is not None
                and isinstance(src.dataType, T.StringType)
            ):
                schema = T.StructType(
                    [
                        T.StructField(f.name, T.TimestampNTZType(), True)
                        if f.name == pf.source
                        else f
                        for f in schema.fields
                    ]
                )
        self.table = Table.create(
            wh,
            self.identifier,
            schema,
            partition_spec=spec,
            properties={**self.cfg.table_properties},
        )
        self.new_table_created = True

    def _evolve(self, data: pa.Table) -> T.StructType:
        """Add the flush's missing columns in at most one commit; return
        the schema the flush is cast to.

        The audit column is force-evolved even when schema evolution is
        off (reference core/loader.py:156-160, "step 1.5") — otherwise
        cast_to_schema silently drops it on pre-existing tables created
        without it. It goes first, ahead of any new data columns."""
        snap = self.table.snapshot()
        have = set(T.StructType.fromJson(snap.schema_json).names)
        wanted = []
        if self.cfg.load_timestamp:
            wanted.append(data.schema.field(self.cfg.load_ts_col))
        if self.cfg.schema_evolution:
            wanted.extend(data.schema)
        new = {
            f.name: T.StructField(f.name, arrow_to_spark(f.type), True)
            for f in wanted
            if f.name not in have
        }
        if new:
            snap = self.table.add_columns(list(new.values()))
        return T.StructType.fromJson(snap.schema_json)

    def _write(self, df: DataFrame):
        spark = self.loader.spark
        cfg = self.cfg
        t = self.table
        # strategy dispatch: upsert ▸ replace_filter ▸ overwrite ▸ append
        # (reference core/strategies.py:84-99)
        if cfg.join_cols:
            return t.merge(
                spark, df, list(cfg.join_cols), mode=cfg.row_level_mode
            )
        if cfg.replace_filter:
            if self.is_first_write:
                t.delete_where(
                    spark, cfg.replace_filter, mode=cfg.row_level_mode
                )
            return t.append(df)
        if cfg.write_mode == "overwrite" and self.is_first_write:
            return t.overwrite(df)
        return t.append(df)

    # ---- result ----------------------------------------------------------

    def result(self) -> dict:
        """Reference result dict (core/loader.py:250-258)."""
        return {
            "rows_loaded": self.rows_loaded,
            "batches_processed": self.batches_processed,
            "write_mode": "upsert"
            if self.cfg.join_cols
            else ("replace" if self.cfg.replace_filter else self.cfg.write_mode),
            "partition_col": self.cfg.partition_by,
            "table_location": self.table.root if self.table else None,
            "snapshot_id": self.snapshot_id,
            "new_table_created": self.new_table_created,
        }
