"""Plan-fingerprint generator: per-query physical-operator counts.

Writes ``tests/plan_fingerprints.json`` mapping every registered query to
the operator counts that determine its scale behavior (exchanges, join
strategies, windows, generators, aggregates). The paired test
(``tests/test_plan_fingerprints.py``) recomputes the counts and fails on
any drift — so an edit that silently adds a shuffle or drops a broadcast
is caught mechanically, query by query, without running any data.

Materialization (`localCheckpoint`/`persist`) is disabled while
fingerprinting: it truncates lineage (the plan would show an opaque scan)
and eagerly executes; with it off the fingerprint covers the whole
declarative pipeline. So is ``Table.scan``'s one-task rule for small
inputs (``tables.table.partitioned_scans``): every table of the smoke
data fits its bound, and a one-task scan plans no Exchange for the
aggregates above it, which at scale, where scans exceed the bound, run
a shuffle.

Usage: python tools/plan_fingerprint.py                 # full regenerate
       python tools/plan_fingerprint.py --only k1,k2    # merge just k1,k2
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, ".")

OPS = (
    "Exchange",  # all shuffles (includes BroadcastExchange, counted below)
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Generate",  # explode / posexplode
    "ArrowEvalPython",  # pandas UDF stages
    "FlatMapGroupsInPandas",
    "MapInPandas",
)

FINGERPRINT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_fingerprints.json",
)


def fingerprint(plan: str) -> dict[str, int]:
    counts = {}
    for op in OPS:
        # word-boundary match so Exchange doesn't count BroadcastExchange
        if op == "Exchange":
            n = len(re.findall(r"(?<!Broadcast)Exchange", plan))
        elif op == "Window":
            n = len(re.findall(r"\bWindow\b", plan))
        else:
            n = plan.count(op)
        if n:
            counts[op] = n
    return counts


def compute_all(
    spark, sf_dir: str, only: set[str] | None = None
) -> dict[str, dict[str, int]]:
    from iceberg_loader_spark.operators import all_queries
    from iceberg_loader_spark.tables.materialize import no_materialize
    from iceberg_loader_spark.tables.table import partitioned_scans

    # fingerprints must be session-state-independent: Catalyst substitutes
    # any CacheManager entry (e.g. a persist()'d frame a previous caller
    # left behind) into matching plan subtrees, changing explain output
    spark.catalog.clearCache()
    with no_materialize(), partitioned_scans():
        out = {}
        for name, fn in sorted(all_queries().items()):
            if only is not None and name not in only:
                continue
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
            out[name] = fingerprint(plan)
        return out


def main() -> int:
    from iceberg_loader_spark import get_spark

    only = None
    argv = list(sys.argv[1:])
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark("plan_fingerprint")
    fps = compute_all(spark, sf_dir, only=only)
    if only is not None:
        # merge-mode: refresh just the named keys; the paired test still
        # recomputes EVERY query, so a stale untouched entry cannot hide
        with open(FINGERPRINT_PATH) as f:
            merged = json.load(f)
        merged.update(fps)
        fps = merged
    with open(FINGERPRINT_PATH, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
    print(f"wrote {len(fps)} fingerprints to {FINGERPRINT_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
