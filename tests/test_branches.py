"""Branch refs: writable forks with true fast-forward (Iceberg branch
semantics — cf. reference core has no refs at all; this extends the
snapshot model of tables/format.py).

The load-bearing property: branch and main share a VERSION NUMBERING
ORIGIN, so fast-forward replays commits 1:1 and data sequence numbers
(which scope merge-on-read delete applicability) survive the publish
unchanged — the thing WAP's append-only squash cannot do.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import ConcurrentModification
from iceberg_loader_spark.tables.table import Table


def _schema():
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
        ]
    )


def _mk(spark, tmp_path, rows):
    wh = Warehouse(str(tmp_path))
    t = Table.create(wh, "db.b", _schema())
    t.append(spark.createDataFrame(rows, schema=_schema()))
    return wh, wh.load_table("db.b")


def test_branch_isolated_until_fast_forward(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(10)])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(100, "b"), (101, "b")], schema=_schema()))
    br = t.branch("exp")  # reopen handle
    # branch sees 12, main still sees 10
    assert br.scan(spark).count() == 12
    assert wh.load_table("db.b").scan(spark).count() == 10
    assert t.list_branches() == ["exp"]

    main = wh.load_table("db.b")
    main.fast_forward_branch(br)
    main = wh.load_table("db.b")
    assert main.scan(spark).count() == 12
    assert main.list_branches() == []  # chain cleaned up
    # branch markers never reach main properties
    assert "branch.name" not in main.properties()


def test_fast_forward_replays_history_one_to_one(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(10)])
    v0 = t.meta.current_version()
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(100, "b")], schema=_schema()))
    t.branch("exp").delete_where(spark, "grp == 'a' and id < 5")
    main = wh.load_table("db.b")
    main.fast_forward_branch(t.branch("exp"))
    main = wh.load_table("db.b")
    # two commits replayed at the exact versions the branch minted
    hist = {s.version: s.operation for s in main.history()}
    assert hist[v0 + 1] == "append"
    assert hist[v0 + 2] == "delete"
    assert main.scan(spark).count() == 10 + 1 - 5
    # time travel through the replayed range works
    assert main.scan(spark, version=v0 + 1).count() == 11
    assert main.scan(spark, version=v0).count() == 10


def test_fast_forward_preserves_mor_delete_sequences(spark, tmp_path):
    """A MoR equality-delete committed ON THE BRANCH must, after
    fast-forward, apply to main's pre-fork files (lower sequence) and
    spare rows appended after it — sequence scoping intact."""
    wh, t = _mk(spark, tmp_path, [(1, "a"), (2, "a"), (3, "a")])
    br = t.create_branch("exp")
    # MoR merge on the branch: replaces id=2, inserts id=9
    src = spark.createDataFrame([(2, "z"), (9, "z")], schema=_schema())
    br.merge(spark, src, ["id"], mode="mor")
    main = wh.load_table("db.b")
    main.fast_forward_branch(t.branch("exp"))
    main = wh.load_table("db.b")
    got = {(r.id, r.grp) for r in main.scan(spark).collect()}
    assert got == {(1, "a"), (3, "a"), (2, "z"), (9, "z")}
    # a later main append with a re-used key is NOT hit by the old delete
    main.append(spark.createDataFrame([(2, "post")], schema=_schema()))
    main = wh.load_table("db.b")
    got2 = {(r.id, r.grp) for r in main.scan(spark).collect()}
    assert (2, "post") in got2 and (2, "z") in got2


def test_fast_forward_conflicts_when_main_moved(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(1, "a")])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(2, "b")], schema=_schema()))
    # main advances past the fork
    t.append(spark.createDataFrame([(3, "c")], schema=_schema()))
    main = wh.load_table("db.b")
    with pytest.raises(ConcurrentModification):
        main.fast_forward_branch(t.branch("exp"))
    # branch still intact after the failed publish
    assert t.branch("exp").scan(spark).count() == 2


def test_abort_branch_removes_staged_files_only(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(10)])
    pre_files = {f.path for f in t.snapshot().files}
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(100, "b")], schema=_schema()))
    res = wh.load_table("db.b").abort_branch(t.branch("exp"))
    assert res["removed_files"] >= 1
    main = wh.load_table("db.b")
    assert main.list_branches() == []
    assert main.scan(spark).count() == 10
    # fork-snapshot files untouched on disk
    for p in pre_files:
        assert os.path.isfile(os.path.join(main.root, p))


def test_create_branch_name_validation_and_duplicates(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(1, "a")])
    with pytest.raises(ValueError):
        t.create_branch("a/b")
    t.create_branch("x")
    with pytest.raises(FileExistsError):
        t.create_branch("x")


def test_remove_orphans_spares_branch_staged_files(spark, tmp_path):
    """A branch can outlive the orphan-scan cutoff; its staged files are
    referenced only by the branch chain and must be treated as live."""
    from iceberg_loader_spark.tables.maintenance import remove_orphan_files

    wh, t = _mk(spark, tmp_path, [(1, "a")])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(2, "b")], schema=_schema()))
    staged = {
        f.path
        for f in t.branch("exp").snapshot().files
        if f.path not in {x.path for x in t.snapshot().files}
    }
    assert staged
    # cutoff in the future: every unreferenced file is old enough to kill
    res = remove_orphan_files(
        wh.load_table("db.b"), older_than_ms=2**62
    )
    assert res["removed"] == 0
    for p in staged:
        assert os.path.isfile(os.path.join(t.root, p))
    # the branch still publishes cleanly afterwards
    main = wh.load_table("db.b")
    main.fast_forward_branch(t.branch("exp"))
    assert wh.load_table("db.b").scan(spark).count() == 2


def test_concurrent_appends_to_one_branch_serialize(spark, tmp_path):
    """The branch chain uses the SAME optimistic CAS commit protocol as
    main: two threads appending to one branch must both land (retry on
    CommitConflict), never lose a commit or corrupt the chain."""
    import threading

    wh, t = _mk(spark, tmp_path, [(0, "a")])
    t.create_branch("exp")
    errs: list[Exception] = []

    def _append(lo: int):
        try:
            # each thread gets its own handle (no shared mutable state)
            br = wh.load_table("db.b").branch("exp")
            br.append(
                spark.createDataFrame(
                    [(lo + i, "t") for i in range(5)], schema=_schema()
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=_append, args=(100 * k,)) for k in (1, 2)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert errs == []
    br = t.branch("exp")
    assert br.scan(spark).count() == 1 + 10
    # both appends present as separate replayable commits on the branch
    # chain (the pre-fork base append lives in MAIN's chain)
    ops = [s.operation for s in br.history()]
    assert ops == ["branch-fork", "append", "append"]
    main = wh.load_table("db.b")
    main.fast_forward_branch(br)
    assert wh.load_table("db.b").scan(spark).count() == 11


def test_fast_forward_resumes_after_partial_replay(spark, tmp_path):
    """A crash mid-replay leaves main with a PREFIX of the branch's
    commits; a retried fast-forward must recognize its own replayed
    snapshots (same snapshot_id) and resume, not abort or double-apply."""
    from dataclasses import replace as _replace

    wh, t = _mk(spark, tmp_path, [(0, "a")])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(1, "b")], schema=_schema()))
    t.branch("exp").append(spark.createDataFrame([(2, "c")], schema=_schema()))
    br = t.branch("exp")
    fork_v = int(br.properties()["branch.fork-version"])

    # simulate the crash: replay ONLY the first branch commit onto main
    s = br.snapshot(fork_v + 1)
    clean = {
        k: v for k, v in s.properties.items() if not k.startswith("branch.")
    }
    t.meta.commit(_replace(s, properties=clean), expected_parent=t.snapshot(fork_v))

    main = wh.load_table("db.b")
    main.fast_forward_branch(t.branch("exp"))  # must RESUME, not raise
    main = wh.load_table("db.b")
    assert main.scan(spark).count() == 3
    assert main.meta.current_version() == fork_v + 2
    assert main.list_branches() == []

    # a FOREIGN commit past the fork still aborts the publish
    t2 = wh.load_table("db.b")
    br2 = t2.create_branch("exp2")
    br2.append(spark.createDataFrame([(7, "z")], schema=_schema()))
    t2.append(spark.createDataFrame([(8, "w")], schema=_schema()))
    with pytest.raises(ConcurrentModification, match="foreign|advanced"):
        wh.load_table("db.b").fast_forward_branch(t2.branch("exp2"))


def test_expire_snapshots_spares_branch_referenced_files(spark, tmp_path):
    """A branch forked at a version main later expires: the fork files
    may be referenced ONLY by the branch chain after main rewrites them
    away — expiry must not delete them out from under the branch."""
    import time

    from iceberg_loader_spark.tables.maintenance import expire_snapshots

    wh, t = _mk(spark, tmp_path, [(1, "a"), (2, "a")])
    fork_files = {f.path for f in t.snapshot().files}
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(3, "b")], schema=_schema()))
    # main rewrites everything (overwrite): the fork files now live only
    # in old main snapshots + the branch chain
    t.overwrite(spark.createDataFrame([(9, "z")], schema=_schema()))
    t = wh.load_table("db.b")
    res = expire_snapshots(t, keep_last=1)
    assert res["expired"] >= 1 and "error" not in res
    # the branch still scans: base rows + its append all present
    got = sorted(
        (r.id, r.grp) for r in t.branch("exp").scan(spark).collect()
    )
    assert got == [(1, "a"), (2, "a"), (3, "b")]
    for p in fork_files:
        assert os.path.isfile(os.path.join(t.root, p))


def test_branch_name_traversal_rejected(spark, tmp_path):
    """ADVICE r6: name '..' would resolve the branch meta_dir to the
    TABLE ROOT, and the rmtree in fast-forward/abort would then delete
    main's metadata and data. Whitelist validation + a realpath
    containment assert reject every traversal shape up front."""
    wh, t = _mk(spark, tmp_path, [(1, "a")])
    for bad in ("..", ".", "../x", "a/../b", " x", "x ", "", ".hidden"):
        with pytest.raises(ValueError):
            t.create_branch(bad)
        with pytest.raises((ValueError, KeyError)):
            t.branch(bad)
        if bad:  # begin_wap(None) generates a fresh id — skip the empty
            with pytest.raises(ValueError):
                t.begin_wap(bad)
    # the table root is intact after all the rejections
    assert wh.load_table("db.b").scan(spark).count() == 1
    # legit names still work
    t.create_branch("ok.name-1_x")
    assert "ok.name-1_x" in t.list_branches()


def test_abort_branch_after_partial_fast_forward_keeps_main_files(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6: a crashed partial fast-forward leaves MAIN referencing
    a prefix of the branch commits' files. Aborting the branch at that
    point must not os.remove files live on main."""
    wh, t = _mk(spark, tmp_path, [(1, "a")])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(2, "b")], schema=_schema()))
    br.append(spark.createDataFrame([(3, "c")], schema=_schema()))

    main = wh.load_table("db.b")
    real_commit = main.meta.commit
    calls = {"n": 0}

    def crashy(snap, expected_parent=None):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid fast-forward")
        return real_commit(snap, expected_parent=expected_parent)

    monkeypatch.setattr(main.meta, "commit", crashy)
    with pytest.raises(RuntimeError, match="simulated crash"):
        main.fast_forward_branch(main.branch("exp"))

    # main now references the first branch commit's files
    main2 = wh.load_table("db.b")
    landed = {f.path for f in main2.snapshot().files}
    main2.abort_branch(main2.branch("exp"))
    # every file main references is still on disk, and main still scans
    for p in landed:
        assert os.path.isfile(os.path.join(main2.root, p)), p
    got = sorted(r.id for r in wh.load_table("db.b").scan(spark).collect())
    assert got == [1, 2]


def test_expire_on_branch_handle_spares_main_files(spark, tmp_path):
    """ADVICE r6: expire_snapshots invoked on a BRANCH handle must union
    MAIN's chain into the live set — fork-seed files a branch
    copy-on-write delete rewrote out of the branch's survivors are still
    referenced by main."""
    from iceberg_loader_spark.tables.maintenance import (
        expire_snapshots,
        remove_orphan_files,
    )

    wh, t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    main_files = {f.path for f in t.snapshot().files}
    br = t.create_branch("exp")
    # CoW delete on the branch rewrites the seed files out of its chain's
    # current survivors; several more commits give expiry room to bite
    br.delete_where(spark, "grp = 'a'", mode="cow")
    br.append(spark.createDataFrame([(5, "e")], schema=_schema()))
    br.append(spark.createDataFrame([(6, "f")], schema=_schema()))
    br = wh.load_table("db.b").branch("exp")
    res = expire_snapshots(br, keep_last=1)
    assert "error" not in res
    res2 = remove_orphan_files(br, older_than_ms=2**62)
    assert res2["removed"] == 0
    # main's files survived both sweeps and main still scans
    main = wh.load_table("db.b")
    for p in main_files:
        assert os.path.isfile(os.path.join(main.root, p)), p
    got = sorted(r.id for r in main.scan(spark).collect())
    assert got == [1, 2]
    # the branch's own view is intact too
    got_br = sorted(r.id for r in main.branch("exp").scan(spark).collect())
    assert got_br == [2, 5, 6]


def test_branch_compaction_replays_through_crashed_fast_forward(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 #7: rewrite_data_files on a branch changes file
    identity; a fast-forward that crashes mid-replay (after the append,
    before the MoR delete + replace commits land) must RESUME cleanly
    and preserve MoR applicability — the live post-compaction predicate
    still applies to the rewritten files on main."""
    from iceberg_loader_spark.tables.maintenance import rewrite_data_files

    wh, t = _mk(
        spark, tmp_path, [(i, "a") for i in range(6)] + [(10, "d"), (11, "d")]
    )
    t.create_branch("exp")
    t.branch("exp").append(
        spark.createDataFrame([(20, "z"), (21, "z")], schema=_schema())
    )
    t.branch("exp").delete_where(spark, "grp = 'd'", mode="mor")
    rewrite_data_files(t.branch("exp"), spark, target_files=2)
    t.branch("exp").delete_where(spark, "id = 21", mode="mor")  # live pred
    head_v = t.branch("exp").snapshot().version

    main = wh.load_table("db.b")
    real_commit = main.meta.commit
    calls = {"n": 0}

    def crashy(snap, expected_parent=None):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid fast-forward")
        return real_commit(snap, expected_parent=expected_parent)

    monkeypatch.setattr(main.meta, "commit", crashy)
    with pytest.raises(RuntimeError, match="simulated crash"):
        main.fast_forward_branch(main.branch("exp"))

    # RESUME with a fresh handle: replay completes, versions line up
    main2 = wh.load_table("db.b")
    main2.fast_forward_branch(main2.branch("exp"))
    main2 = wh.load_table("db.b")
    assert main2.meta.current_version() == head_v
    assert main2.list_branches() == []
    # content: 6 base + 2 appended − 2 MoR('d') − 1 MoR(id=21)
    got = sorted(r.id for r in main2.scan(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5, 20]
    # the compacted file count and the LIVE predicate survived the publish
    assert len(main2.snapshot().files) == 2
    assert len(main2.snapshot().delete_predicates) == 1


# ---- cherry-pick (round 7): apply a branch append onto a DIVERGED main ----


def test_cherry_pick_onto_diverged_main_with_sequence_semantics(
    spark, tmp_path
):
    """Main advances past the fork with a MoR delete, so fast-forward
    refuses — cherry-pick applies the branch's append anyway, and the
    picked files are re-stamped with the NEW main version: the earlier
    delete predicate (lower sequence) must NOT touch the picked rows
    even though they match it."""
    wh, t = _mk(
        spark, tmp_path, [(i, "a") for i in range(10)] + [(90, "z"), (91, "z")]
    )
    br = t.create_branch("exp")
    br.append(
        spark.createDataFrame([(200, "z"), (201, "z")], schema=_schema())
    )
    # main diverges: MoR-delete every 'z' row (sequence 3 on main)
    main = wh.load_table("db.b")
    main.delete_where(spark, "grp = 'z'", mode="mor")
    main = wh.load_table("db.b")
    assert main.scan(spark).count() == 10
    with pytest.raises(ConcurrentModification):
        main.fast_forward_branch(main.branch("exp"))

    snap = main.cherry_pick(main.branch("exp"))
    main = wh.load_table("db.b")
    got = {(r.id, r.grp) for r in main.scan(spark).collect()}
    # the two picked 'z' rows SURVIVE the grp='z' predicate (newer data
    # sequence); the two original 'z' rows stay deleted
    assert {(200, "z"), (201, "z")} <= got
    assert (90, "z") not in got and (91, "z") not in got
    assert len(got) == 12
    assert snap.summary["cherry-pick-source"] == main.branch(
        "exp"
    ).snapshot().snapshot_id
    # picked files carry the new main sequence
    picked = [f for f in snap.files if f.sequence == snap.version]
    assert sum(f.rows for f in picked) == 2
    # time travel on main is untouched
    assert main.scan(spark, version=2).count() == 12  # before the delete


def test_cherry_pick_replay_and_operation_guards(spark, tmp_path):
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(6)])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(100, "b")], schema=_schema()))
    main = wh.load_table("db.b")
    main.append(spark.createDataFrame([(500, "m")], schema=_schema()))
    main = wh.load_table("db.b")
    main.cherry_pick(main.branch("exp"))
    main = wh.load_table("db.b")
    assert main.scan(spark).count() == 8
    # picking the SAME branch snapshot again must refuse, not double-add
    with pytest.raises(ValueError, match="already cherry-picked"):
        main.cherry_pick(main.branch("exp"))
    # a non-append branch commit is not cherry-pickable
    main.branch("exp").delete_where(spark, "grp = 'a'", mode="mor")
    with pytest.raises(ValueError, match="append snapshots only"):
        wh.load_table("db.b").cherry_pick(main.branch("exp"))


def test_abort_branch_keeps_cherry_picked_files(spark, tmp_path):
    """After a cherry-pick, the branch's data files are live on MAIN —
    aborting the branch must not remove them."""
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(5)])
    br = t.create_branch("exp")
    br.append(spark.createDataFrame([(300, "c"), (301, "c")], schema=_schema()))
    main = wh.load_table("db.b")
    main.append(spark.createDataFrame([(400, "m")], schema=_schema()))
    main = wh.load_table("db.b")
    main.cherry_pick(main.branch("exp"))
    main = wh.load_table("db.b")
    main.abort_branch(main.branch("exp"))
    main = wh.load_table("db.b")
    got = {(r.id, r.grp) for r in main.scan(spark).collect()}
    assert {(300, "c"), (301, "c"), (400, "m")} <= got
    assert len(got) == 8
    assert main.list_branches() == []


def test_cherry_pick_refuses_prefork_snapshot(spark, tmp_path):
    """Pre-fork snapshots are shared with main — re-adding their files
    would double-count every row they contain."""
    wh, t = _mk(spark, tmp_path, [(i, "a") for i in range(4)])
    t.create_branch("exp")
    main = wh.load_table("db.b")
    with pytest.raises(ValueError, match="predates the fork"):
        main.cherry_pick(main.branch("exp"), version=2)  # the shared append


def test_ref_name_rejects_trailing_newline(spark, tmp_path):
    """'$' matches before a trailing newline; the whitelist must not
    (re \\Z anchor) — a ref directory with a newline in its name defeats
    the 'ref names are clean path components' intent."""
    wh, t = _mk(spark, tmp_path, [(1, "a")])
    with pytest.raises(ValueError):
        t.create_branch("exp\n")
