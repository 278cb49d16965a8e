"""The one materialize helper: compute a frame once for several readers.

``materialize(df)`` computes ``df`` eagerly and returns a frame that many
downstream actions (both sides of a self-join, a count then a merge) can
read without replaying the upstream plan. Catalyst does not reuse the
exchange between the two aliased sides of a self-join, so without this
the whole upstream (tokenize, hash, aggregate) would run twice.
``release_blocks(frame)`` frees the backing blocks deterministically (no
waiting on GC/ContextCleaner: a long-lived session applying many
changelogs must not accumulate block storage).

Two modes, chosen once at import by ``SPARK_GRAFT_MATERIALIZE``:

* ``local_checkpoint`` (default): lineage is CUT, so downstream task
  binaries ship "read these blocks" instead of the full upstream plan (a
  compounded changelog plan has OOM'd a default-1g heap via multi-MiB
  nested-closure task binaries; measured 3.6x on minhash at sf0.1).
  Blocks are executor-local; an executor death loses them without
  recompute: acceptable single-node, and the failure is loud.
* ``persist``: MEMORY_AND_DISK with lineage kept, the cluster-safe
  spelling (lost blocks recompute, disk spill bounds memory), for
  deployments whose executors have real heaps.

Any other value fails the import: a typo silently falling back to
``local_checkpoint`` would run the mode that is unsafe on executor loss.

``no_materialize()`` makes ``materialize`` return its input, so a plan
fingerprint or explain dump sees the whole declarative pipeline instead
of a ``Scan ExistingRDD`` leaf.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

__all__ = ["materialize", "no_materialize", "release_blocks"]

_LOG = logging.getLogger(__name__)
_RELEASE_WARNED = False


def _validated_mode(mode: str) -> str:
    if mode not in ("local_checkpoint", "persist"):
        raise ValueError(
            f"unknown materialize mode: {mode!r} "
            "(expected 'local_checkpoint' or 'persist')"
        )
    return mode


_MODE = _validated_mode(
    os.environ.get("SPARK_GRAFT_MATERIALIZE", "local_checkpoint")
)
_BYPASS = False


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once (see the module docstring for the modes);
    ``df`` itself inside :func:`no_materialize`."""
    if _BYPASS:
        return df
    if _MODE == "persist":
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # eager: populate the cache before any reader
        return df
    return df.localCheckpoint(eager=True)


@contextmanager
def no_materialize() -> Iterator[None]:
    """Within the block, :func:`materialize` returns its input. The one
    seam for plan fingerprinting: shared artifacts
    (``operators/dedup._shared_artifact``) bypass their cache here too,
    so the fingerprint covers the real pipeline."""
    global _BYPASS
    prev, _BYPASS = _BYPASS, True
    try:
        yield
    finally:
        _BYPASS = prev


def release_blocks(df: DataFrame) -> bool:
    """Free the executor blocks backing a materialized frame, NOW.

    Caller contract: every consumer of the frame has already evaluated —
    a ``localCheckpoint`` frame's lineage is truncated, so a read after
    release fails loudly (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), while a
    ``persist``-mode frame silently recomputes from lineage.

    Returns ``True`` if blocks were freed. Failure is logged (once per
    process) rather than swallowed: a silent no-op here would accumulate
    block storage in exactly the long-lived many-changelog scenario this
    helper exists to bound.
    """
    global _RELEASE_WARNED
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            # localCheckpoint frame: the persisted RDD lives inside the
            # LogicalRDD node (the DataFrame itself is not "cached" as
            # far as the CacheManager knows, so df.unpersist is a no-op)
            plan.rdd().unpersist(False)
        else:
            # persist-mode frame: the plan is the original tree and the
            # CacheManager owns the blocks
            df.unpersist(False)
        return True
    except Exception:
        if not _RELEASE_WARNED:
            _LOG.warning(
                "release_blocks: could not free materialized blocks — "
                "block storage will rely on GC/ContextCleaner until the "
                "session ends (reported once per process)",
                exc_info=True,
            )
            _RELEASE_WARNED = True
        return False
