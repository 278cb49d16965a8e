"""Dump ``explain("formatted")`` for registered queries to plans/<round>/.

Usage: python tools/dump_plans.py <round_dir> <suffix> [--full] [key ...]

Writes ``plans/<round_dir>/<key>_<suffix>.txt`` for each key (all keys
when none are given). The explain output is the OPTIMIZATION deliverable:
the judge checks plan-shape claims (Exchange counts, join strategies,
PushedFilters) against these files, so they are captured from the same
session shape the bench uses (``get_spark``).

``--full`` runs inside ``tables.materialize.no_materialize`` (the
plan_fingerprint.py convention): localCheckpoint/persist truncate
lineage and the shared artifacts hide their build pipelines behind a
table scan, so the executed-shape dump bottoms out at ``Scan
ExistingRDD`` exactly where the interesting build stages live (the r10
verdict's evidence gap). With ``--full`` the dump shows the WHOLE
declarative pipeline, including every exchange inside builds.
"""

from __future__ import annotations

import io
import os
import sys
import traceback
from contextlib import nullcontext, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_loader_spark import get_spark  # noqa: E402
from iceberg_loader_spark.operators import all_queries  # noqa: E402
from iceberg_loader_spark.tables.materialize import (  # noqa: E402
    no_materialize,
)


def main() -> None:
    round_dir, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    full = "--full" in keys
    if full:
        keys.remove("--full")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_dir,
    )
    os.makedirs(out_root, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = all_queries()
    if not keys:
        keys = list(qs)
    with no_materialize() if full else nullcontext():
        for key in keys:
            if key not in qs:
                print(f"?? unknown key {key}", file=sys.stderr)
                continue
            path = os.path.join(out_root, f"{key}_{suffix}.txt")
            try:
                df = qs[key](spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(path, "w") as f:
                    f.write(buf.getvalue())
                print(f"ok {key}")
            except Exception:
                with open(path, "w") as f:
                    f.write("EXPLAIN FAILED\n" + traceback.format_exc())
                print(f"FAIL {key}", file=sys.stderr)


if __name__ == "__main__":
    main()
