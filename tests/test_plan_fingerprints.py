"""Plan-fingerprint regression gate: every registered query's physical
operator counts (shuffles, join strategies, windows, Python stages) must
match the checked-in ``plan_fingerprints.json``.

A failing query here means an edit changed its PLAN SHAPE — e.g. a
broadcast became a shuffle join, or a new Exchange appeared. If the
change is intentional, regenerate with::

    python tools/plan_fingerprint.py

and review the JSON diff like any other code change (an Exchange count
going UP needs a scale justification in the operator's docstring).
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_SMOKE

sys_path_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FP_PATH = os.path.join(os.path.dirname(__file__), "plan_fingerprints.json")


@pytest.fixture(scope="module")
def expected():
    with open(FP_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def actual(spark):
    import sys

    sys.path.insert(0, sys_path_root)
    from tools.plan_fingerprint import compute_all

    return compute_all(spark, SF_SMOKE)


def test_every_query_has_a_fingerprint(expected):
    from iceberg_loader_spark.operators import all_queries

    missing = [k for k in all_queries() if k not in expected]
    assert missing == [], (
        f"queries without checked-in fingerprints: {missing} — "
        "run python tools/plan_fingerprint.py"
    )


def test_output_schemas_are_canonicalizable(spark):
    """No registered query may output array/map/struct/binary/date
    columns: the external comparison canonicalizes results via pandas
    sort_values + value hashing, which fails on unhashable cells (cost
    two red rounds for array columns) and hashes date objects
    engine-dependently. Arrays belong comma-joined, dates as formatted
    strings — this test pins the contract for every current and future
    query."""
    from pyspark.sql import types as T

    from iceberg_loader_spark.operators import all_queries
    from iceberg_loader_spark.tables.materialize import no_materialize

    banned = (
        T.ArrayType,
        T.MapType,
        T.StructType,
        T.BinaryType,
        T.DateType,
    )
    offenders = {}
    with no_materialize():
        for name, fn in all_queries().items():
            schema = fn(spark, SF_SMOKE).schema
            bad = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in schema.fields
                if isinstance(f.dataType, banned)
            ]
            if bad:
                offenders[name] = bad
    assert offenders == {}, (
        f"non-canonicalizable output columns: {offenders}"
    )


def test_plan_shapes_unchanged(spark, expected, actual):
    diffs = {
        name: {"expected": expected.get(name), "actual": fp}
        for name, fp in actual.items()
        if expected.get(name) != fp
    }
    assert diffs == {}, (
        "plan shape drift (regenerate via tools/plan_fingerprint.py if "
        f"intentional): {json.dumps(diffs, indent=1)}"
    )
