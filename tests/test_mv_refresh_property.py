"""Property test for signed-changelog MV maintenance: ANY sequence of
appends, copy-on-write and merge-on-read deletes and rollbacks, refreshed
per-commit-range from changes() through apply_mv_delta, must leave the
MV equal to a full recompute.

This is the mechanical form of the z-set claim: additions and retractions
compose linearly per key, so the maintained state can never drift from
the batch recompute — if it does, the changelog (changes), the signed
aggregate, or the apply (merge/delete_by_keys) is wrong.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_loader_spark.operators.lifecycle import apply_mv_delta
from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.table import Table

VAL_COLS = ("n_rows", "sum_v")

# an op is ("append", rows); ("cow" or "mor", threshold), a delete of
# every row with v >= threshold, copy-on-write over any number of files
# or merge-on-read as a predicate; ("keys", k), a merge-on-read delete of
# key k; or ("rollback", n), a rollback to the snapshot n versions back
_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=1, max_size=6
)
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _rows),
        st.tuples(st.sampled_from(["cow", "mor"]), st.integers(1, 9)),
        st.tuples(st.just("keys"), st.integers(0, 4)),
        st.tuples(st.just("rollback"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=4,
)


def _signed_agg(df, sign):
    return df.groupBy("k").agg(
        F.sum(sign).cast("bigint").alias("n_rows"),
        F.sum(sign * F.col("v")).cast("bigint").alias("sum_v"),
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(first=_rows, ops=_ops)
# rollbacks past a key delete, and past a key and a predicate delete
@example(first=[(1, 5), (2, 6)], ops=[("keys", 1), ("rollback", 1)])
@example(
    first=[(1, 1), (2, 2), (3, 3)], ops=[("keys", 2), ("mor", 3), ("rollback", 2)]
)
def test_mv_tracks_any_append_delete_history(spark, tmp_path_factory, first, ops):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh")))
    df0 = spark.createDataFrame(first, "k long, v long")
    t = Table.create(wh, "db.t", df0.schema)
    t.append(df0)
    mv0 = _signed_agg(wh.load_table("db.t").scan(spark), F.lit(1))
    Table.create(wh, "db.mv", mv0.schema).append(mv0)

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    for op, arg in ops:
        t = wh.load_table("db.t")
        base = t.meta.current_version()
        if op == "append":
            t.append(spark.createDataFrame(arg, "k long, v long"))
        elif op == "keys":
            t.delete_by_keys(spark, spark.createDataFrame([(arg,)], "k long"), ["k"])
        elif op == "rollback":
            t.rollback(max(2, base - arg))  # version 2 holds the first rows
        else:
            t.delete_where(spark, f"v >= {arg}", mode=op)
        t = wh.load_table("db.t")
        if t.meta.current_version() == base:
            continue  # no-op delete commits nothing
        delta = _signed_agg(t.changes(spark, base), sign).filter(
            (F.col("n_rows") != 0) | (F.col("sum_v") != 0)
        )
        apply_mv_delta(spark, wh, "db.mv", delta, "k", VAL_COLS)

        maintained = {
            r["k"]: (r["n_rows"], r["sum_v"])
            for r in wh.load_table("db.mv").scan(spark).collect()
        }
        expected = {
            r["k"]: (r["n_rows"], r["sum_v"])
            for r in _signed_agg(
                wh.load_table("db.t").scan(spark), F.lit(1)
            ).collect()
        }
        assert maintained == expected, (op, arg, maintained, expected)
