"""CDC replication: apply a row-level changelog onto a keyed table.

``apply_changelog`` replays the output of :meth:`Table.changes`
(or any frame with the same ``_change_type`` / ``_commit_version``
contract) onto a target table using the merge-on-read primitives, so
the apply cost is O(changes) regardless of target size:

* per key, the WINNING action is the latest commit's row (within a
  commit an update is delete+insert — insert wins);
* winning inserts land through ``merge(mode='mor')`` (new data files +
  one equality-delete file superseding older key versions);
* winning deletes land through ``delete_by_keys`` (one equality-delete
  file, nothing read).

This is the table→table replication loop: tail the source's commits,
read ``changes`` for the new range, ``apply_changelog`` on the replica —
each leg proportional to the delta. Compaction on the replica
materializes the accumulated delete files on its own cadence.

Scale: the winner computation is one rank window partitioned by key
over the CHANGE SET (not the table); both apply legs commit O(changes)
bytes. Requires the key to be unique in the target (the same contract
MERGE has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.tables.materialize import materialize, release_blocks
from iceberg_loader_spark.tables.table import Table


def apply_changelog(
    spark: SparkSession,
    target: Table,
    changes: DataFrame,
    key_cols: list[str],
) -> dict:
    """Replay ``changes`` onto ``target``; returns apply counts."""
    data_cols = [f.name for f in target.schema().fields]
    missing = [c for c in data_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changelog lacks target columns: {missing}")

    w = W.partitionBy(*key_cols).orderBy(
        F.desc("_commit_version"),
        # within one commit an update is delete(old)+insert(new):
        # the insert is the surviving state
        F.when(F.col("_change_type") == "insert", 0).otherwise(1),
    )
    # Materialize AND truncate lineage (see tables/materialize.py). The
    # changelog plan compounds per commit (each changes() leg is an
    # exceptAll over that commit's churned files), and the apply legs
    # below re-plan it inside merge's dup-check and the key delete —
    # with plain persist() the full nested lineage still rides every
    # task binary, and a long commit range deserializes MBs of nested
    # closures PER TASK (observed: a 4.9 MiB task binary OOMing a
    # default-1g-heap session).
    winners = materialize(
        changes.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") == 1)
        .drop("_rnk")
    )
    try:
        # one aggregate decides both legs (and populates the cache the
        # apply legs reuse) instead of two separate count jobs
        n_upserts, n_deletes = winners.agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(0)
            ),
            F.sum(
                F.when(F.col("_change_type") == "delete", 1).otherwise(0)
            ),
        ).first()
        n_upserts, n_deletes = int(n_upserts or 0), int(n_deletes or 0)
        if n_upserts:
            upserts = winners.filter(
                F.col("_change_type") == "insert"
            ).select(*data_cols)
            target.merge(spark, upserts, key_cols, mode="mor")
        if n_deletes:
            deletes = winners.filter(
                F.col("_change_type") == "delete"
            ).select(*key_cols)
            target.delete_by_keys(spark, deletes, key_cols)
    finally:
        release_blocks(winners)
    return {"upserted_keys": n_upserts, "deleted_keys": n_deletes}
