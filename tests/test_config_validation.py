"""Config validation parity (reference tests/test_config_validation.py)."""

import pytest

from iceberg_loader_spark.config import ConfigError, LoaderConfig
from iceberg_loader_spark.tables.partitioning import PartitionError


def test_valid_default():
    cfg = LoaderConfig()
    assert cfg.write_mode == "append"
    assert cfg.buffer_limit == 1


def test_bad_write_mode():
    with pytest.raises(ConfigError):
        LoaderConfig(write_mode="merge")


def test_upsert_plus_replace_filter_rejected():
    with pytest.raises(ConfigError):
        LoaderConfig(join_cols=("id",), replace_filter="d == '2023-01-01'")


def test_empty_join_cols_rejected():
    with pytest.raises(ConfigError):
        LoaderConfig(join_cols=())


def test_negative_commit_interval_rejected():
    with pytest.raises(ConfigError):
        LoaderConfig(commit_interval=-1)


def test_commit_interval_zero_flushes_every_batch():
    assert LoaderConfig(commit_interval=0).buffer_limit == 1
    assert LoaderConfig(commit_interval=5).buffer_limit == 5


def test_bad_partition_expression_rejected():
    with pytest.raises(PartitionError):
        LoaderConfig(partition_by="bucket(id)")  # missing param
    with pytest.raises(PartitionError):
        LoaderConfig(partition_by="frobnicate(ts)")


def test_identity_partition_on_load_ts_rejected():
    with pytest.raises(ConfigError):
        LoaderConfig(partition_by="_load_dttm", load_timestamp=True)
    # fine when the audit column is disabled
    LoaderConfig(partition_by="_load_dttm", load_timestamp=False)


def test_bad_load_ts_col_rejected():
    with pytest.raises(ConfigError):
        LoaderConfig(load_ts_col="bad name!")


def test_materialize_mode_env_validation():
    """SPARK_GRAFT_MATERIALIZE typos must fail loudly, not silently fall
    back to the executor-loss-unsafe localCheckpoint mode."""
    from iceberg_loader_spark.tables.materialize import _validated_mode

    assert _validated_mode("persist") == "persist"
    assert _validated_mode("local_checkpoint") == "local_checkpoint"
    with pytest.raises(ValueError, match="unknown materialize mode"):
        _validated_mode("PERSIST")
    with pytest.raises(ValueError, match="unknown materialize mode"):
        _validated_mode("presist")
