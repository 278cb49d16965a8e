"""Deterministic block release — the materialization-hygiene contract.

A long-lived session (bench sweep, changelog apply, perceptron training)
must be able to free executor block storage NOW, not whenever GC + the
ContextCleaner get around to it. These tests pin:

* ``release_blocks`` on a localCheckpoint frame actually removes the
  backing RDD from block storage (the ADVICE item: a silent no-op here
  would accumulate blocks in exactly the scenario the helper exists for),
* ``release_blocks`` on a persist-mode frame leaves it recomputable,
* bench.py's inter-query cleanup returns the context's persistent-RDD
  count to zero (the VERDICT item: a future query that leaks
  checkpointed blocks must fail this test),
* a bad ``SPARK_GRAFT_MATERIALIZE`` value fails the import.
"""

from __future__ import annotations

import os
import subprocess
import sys

import iceberg_loader_spark.tables.materialize as mz
from iceberg_loader_spark.tables.materialize import (
    materialize,
    no_materialize,
    release_blocks,
)


def _n_persistent(spark) -> int:
    return len(list(spark.sparkContext._jsc.getPersistentRDDs().keys()))


def _storage_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    return {info.id() for info in sc.getRDDStorageInfo()}


def test_release_blocks_frees_local_checkpoint(spark):
    base = _n_persistent(spark)
    out = materialize(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert out.count() == 1000
    assert _n_persistent(spark) == base + 1
    assert release_blocks(out) is True
    assert _n_persistent(spark) == base
    # the checkpointed RDD must be gone from block storage, not merely
    # marked — getRDDStorageInfo reports only RDDs with live blocks
    assert len(_storage_rdd_ids(spark)) <= base


def test_release_blocks_persist_mode_recomputes(spark, monkeypatch):
    monkeypatch.setattr(mz, "_MODE", "persist")
    out = materialize(spark.range(100).selectExpr("id"))
    assert out.count() == 100
    assert release_blocks(out) is True
    # persist mode keeps lineage: a read after release recomputes
    assert out.count() == 100


def test_release_blocks_plain_frame_is_safe(spark):
    # not materialized at all: release must not raise and must not lie
    df = spark.range(10)
    assert release_blocks(df) is True  # unpersist no-op path


def test_bench_cleanup_returns_block_count_to_baseline(spark):
    """The bench loop's inter-query cleanup (memo clear + release-all)
    must leave ZERO pinned RDDs even for a query that materializes
    intermediates and pins a session-memoized fragment."""
    import bench

    base = _n_persistent(spark)

    # simulate a checkpoint-dense query: materialize two frames, memoize
    # one on the session the way _minhash_scored_pairs does
    f1 = materialize(spark.range(500).selectExpr("id", "id % 7 AS k"))
    f2 = materialize(f1.groupBy("k").count())
    spark._ils_fragment_memo = {("probe", "sf", "local_checkpoint"): f2}
    assert f2.count() == 7
    assert _n_persistent(spark) >= base + 2

    bench._clear_session_memos(spark)
    released = bench._release_all_blocks(spark)
    assert released >= 2
    assert _n_persistent(spark) == 0
    assert spark._ils_fragment_memo == {}


def test_shared_artifact_builds_once_and_invalidates_on_rewrite(
    spark, tmp_path
):
    """The persisted shared-fragment artifact (VERDICT r6 #1): built once
    per (name, sf_dir, dataset fingerprint), every consumer scans the
    SAME table back, and an in-place rewrite of the dataset rebuilds
    instead of serving stale pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_loader_spark.operators import dedup

    sf_dir = str(tmp_path)
    d = tmp_path / "documents.parquet"
    d.mkdir()
    part = str(d / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c d"]}), part)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, 7)], "a_id long, n long")

    a = dedup._shared_artifact(spark, sf_dir, "t_probe", build)
    b = dedup._shared_artifact(spark, sf_dir, "t_probe", build)
    assert calls["n"] == 1  # second consumer scans, does not rebuild
    assert a.collect() == b.collect() == [(1, 7)] or [
        tuple(r) for r in a.collect()
    ] == [(1, 7)]

    # in-place rewrite of the dataset → new fingerprint → rebuild
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), part
    )
    dedup._shared_artifact(spark, sf_dir, "t_probe", build)
    assert calls["n"] == 2

    # the plan-fingerprint seam: inside no_materialize the artifact
    # returns the declarative build and never touches the cache
    with no_materialize():
        dedup._shared_artifact(spark, sf_dir, "t_probe", build)
    assert calls["n"] == 3
    dedup._shared_artifact(spark, sf_dir, "t_probe", build)
    assert calls["n"] == 3  # seam restored on exit: served from cache


def test_bad_mode_env_fails_import():
    """A typo in SPARK_GRAFT_MATERIALIZE must fail loudly at import, not
    silently fall back to the executor-loss-unsafe localCheckpoint."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import iceberg_loader_spark.tables.materialize",
        ],
        env={**os.environ, "SPARK_GRAFT_MATERIALIZE": "persit"},
        cwd=root,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "ValueError: unknown materialize mode: 'persit'" in proc.stderr
