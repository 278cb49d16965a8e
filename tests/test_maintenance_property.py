"""Property test for the maintenance procedures: ANY interleaving of
appends, copy-on-write deletes, manifest-chain squashes, position-delete
compactions, data-file rewrites, and snapshot expiry must leave the
table's visible content equal to a plain Python set model — and the
metadata procedures (`rewrite_manifests`, `rewrite_delete_files`) must
be PURE metadata: same content, same head version, resolvable manifests.

This is the mechanical form of the round-8 claims: manifest squashing
and delete-file merging are content-invariant under arbitrary commit
histories, not just the oracle queries' fixed scripts.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import ConcurrentModification
from iceberg_loader_spark.tables.maintenance import (
    convert_equality_deletes,
    expire_snapshots,
    manifest_chain_length,
    rewrite_data_files,
    rewrite_delete_files,
    rewrite_manifests,
)
from iceberg_loader_spark.tables.objectstore import (
    InMemoryStore,
    ObjectStoreBackend,
)
from iceberg_loader_spark.tables.table import Table

# ops: ("append", [v...]) adds rows with value v (id auto-increments so
# rows are unique); ("delete", t) removes v >= t copy-on-write;
# ("pos_delete", t) removes v >= t as a positional delete file;
# ("eq_delete", x) removes v == x as an equality-delete key file;
# ("manifests",) squashes the chain; ("del_files",) merges pos deletes;
# ("convert_eq",) materializes equality deletes into positions;
# ("compact",) rewrites data files; ("expire",) keeps last 2 snapshots.
_vals = st.lists(st.integers(0, 9), min_size=1, max_size=4)
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _vals),
        st.tuples(st.just("delete"), st.integers(3, 9)),
        st.tuples(st.just("pos_delete"), st.integers(3, 9)),
        st.tuples(st.just("eq_delete"), st.integers(0, 9)),
        st.tuples(st.just("manifests")),
        st.tuples(st.just("del_files")),
        st.tuples(st.just("convert_eq")),
        st.tuples(st.just("compact")),
        st.tuples(st.just("expire")),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(first=_vals, ops=_ops)
def test_maintenance_ops_preserve_model_content(
    spark, tmp_path_factory, first, ops
):
    root = tmp_path_factory.mktemp("wh_prop")
    wh = Warehouse(str(root))
    df0 = spark.createDataFrame(
        [(0, int(first[0]))], "id bigint, v bigint"
    )
    t = Table.create(wh, "db.t", df0.schema)

    model: dict[int, int] = {}
    next_id = 0

    def _append(vals):
        nonlocal next_id
        rows = []
        for v in vals:
            rows.append((next_id, int(v)))
            model[next_id] = int(v)
            next_id += 1
        wh.load_table("db.t").append(
            spark.createDataFrame(rows, "id bigint, v bigint")
        )

    _append(first)
    for op in ops:
        t = wh.load_table("db.t")
        if op[0] == "append":
            _append(op[1])
        elif op[0] == "delete":
            t.delete_where(spark, f"v >= {op[1]}", mode="cow")
            for k in [k for k, v in model.items() if v >= op[1]]:
                del model[k]
        elif op[0] == "pos_delete":
            t.delete_where(spark, f"v >= {op[1]}", mode="mor-pos")
            for k in [k for k, v in model.items() if v >= op[1]]:
                del model[k]
        elif op[0] == "eq_delete":
            t.delete_by_keys(
                spark,
                spark.createDataFrame([(int(op[1]),)], "v bigint"),
                ["v"],
            )
            for k in [k for k, v in model.items() if v == op[1]]:
                del model[k]
        elif op[0] == "convert_eq":
            convert_equality_deletes(t, spark)
            t2 = wh.load_table("db.t")
            assert all(
                d.get("kind") == "pos" for d in t2.snapshot().delete_files
            ), "conversion left equality ops behind"
        elif op[0] == "manifests":
            head = t.meta.current_version()
            rewrite_manifests(t)
            t2 = wh.load_table("db.t")
            assert t2.meta.current_version() == head, "metadata-only op committed"
            assert manifest_chain_length(t2) == 0
        elif op[0] == "del_files":
            rewrite_delete_files(t, spark)
            t2 = wh.load_table("db.t")
            pos = [
                d
                for d in t2.snapshot().delete_files
                if d.get("kind") == "pos"
            ]
            assert len(pos) <= 1, "merge must leave at most one pos file"
        elif op[0] == "compact":
            rewrite_data_files(t, spark, target_file_mb=512)
        elif op[0] == "expire":
            expire_snapshots(t, keep_last=2)
        # INVARIANT after every op: visible content == the Python model
        t = wh.load_table("db.t")
        got = {(r.id, r.v) for r in t.scan(spark).collect()}
        assert got == set(model.items()), f"drift after {op[0]}"
        # and the head manifest always resolves (chain never dangles)
        assert t.snapshot().version == t.meta.current_version()


# ---------------------------------------------------------------------------
# Round 9 — real interleaved RACES for the r8 metadata procedures, under
# the object-store (conditional-PUT) backend: no POSIX atomics anywhere.
# ---------------------------------------------------------------------------


def _os_warehouse(tmp_path):
    store = InMemoryStore()
    return Warehouse(
        str(tmp_path),
        backend_factory=lambda root: ObjectStoreBackend(store, root),
    )


def _seed_table(spark, wh, files):
    """One commit per entry in ``files`` (a list of value-lists) — each
    file mixes low and high values so range deletes are PARTIAL matches
    (a full metadata match would drop the file outright and write no
    positions — the mor-pos fast path)."""
    rows0 = [(i, int(v)) for i, v in enumerate(files[0])]
    df0 = spark.createDataFrame(rows0, "id bigint, v bigint")
    t = Table.create(wh, "db.t", df0.schema)
    nid = 0
    for vals in files:
        rows = []
        for v in vals:
            rows.append((nid, int(v)))
            nid += 1
        wh.load_table("db.t").append(
            spark.createDataFrame(rows, "id bigint, v bigint").coalesce(1)
        )
    return wh.load_table("db.t")


def _visible(spark, wh):
    return {
        (r.id, r.v) for r in wh.load_table("db.t").scan(spark).collect()
    }


def test_rewrite_delete_files_aborts_on_concurrent_mor_delete(
    spark, tmp_path
):
    """A concurrent positional delete landing between the merge's scan
    and its commit changes the pos-delete set the merge was built from:
    the commit MUST abort (ConcurrentModification), and the concurrent
    delete's effect must survive untouched."""
    import pytest as _pt

    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1, 8], [1, 5]])  # ids (0,1), (2,3)
    t.delete_where(spark, "v >= 8", mode="mor-pos")  # partial on file 0
    t = wh.load_table("db.t")

    orig = t._commit_with_retry

    def inject(*args):
        # partial on BOTH files -> a second pos file lands mid-merge
        wh.load_table("db.t").delete_where(spark, "v >= 5", mode="mor-pos")
        return orig(*args)

    t._commit_with_retry = inject
    with _pt.raises(ConcurrentModification):
        rewrite_delete_files(t, spark)
    assert _visible(spark, wh) == {(0, 1), (2, 1)}
    # rerun on a fresh handle converges: one merged file, same content
    t = wh.load_table("db.t")
    res = rewrite_delete_files(t, spark)
    assert res["merged"] == 2 and res["files_after"] == 1
    assert _visible(spark, wh) == {(0, 1), (2, 1)}


def test_rewrite_delete_files_survives_concurrent_append_and_expire(
    spark, tmp_path
):
    """A concurrent append (pos set unchanged) and a concurrent snapshot
    expiry must NOT abort the merge: the appended rows stay visible and
    untouched by the merged delete (max-sequence safety), and expiry
    never deletes the delete files the current snapshot references."""
    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1, 5], [1, 8]])  # ids (0,1), (2,3)
    t.delete_where(spark, "v >= 5", mode="mor-pos")  # partial on both
    t = wh.load_table("db.t")

    orig = t._commit_with_retry

    def inject(*args):
        wh.load_table("db.t").append(
            spark.createDataFrame([(90, 9)], "id bigint, v bigint")
        )
        expire_snapshots(wh.load_table("db.t"), keep_last=1)
        return orig(*args)

    t._commit_with_retry = inject
    res = rewrite_delete_files(t, spark)
    assert res["merged"] == 1
    # appended row visible even though v=9 matches the merged predicate
    # rows (positions name exact rows; sequence rule protects the rest)
    assert _visible(spark, wh) == {(0, 1), (2, 1), (90, 9)}


def test_rewrite_manifests_races_concurrent_append(spark, tmp_path):
    """rewrite_manifests swaps the HEAD manifest for a self-contained
    one while an append commits the next version on the same ref: the
    append's delta chain must still resolve (old-delta or new-full are
    content-identical), nothing is lost, and the next squash shortens
    the chain to zero."""
    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1], [2], [3], [4]])
    assert manifest_chain_length(t) > 0

    orig = t.meta.backend.write_manifest_replace

    def inject(version, manifest):
        wh.load_table("db.t").append(
            spark.createDataFrame([(50, 5)], "id bigint, v bigint")
        )
        return orig(version, manifest)

    t.meta.backend.write_manifest_replace = inject
    rewrite_manifests(t)
    t2 = wh.load_table("db.t")
    # the concurrent append delta-based on the squashed head: depth 1
    assert manifest_chain_length(t2) == 1
    assert _visible(spark, wh) == {(0, 1), (1, 2), (2, 3), (3, 4), (50, 5)}
    rewrite_manifests(t2)
    t3 = wh.load_table("db.t")
    assert manifest_chain_length(t3) == 0
    assert _visible(spark, wh) == {(0, 1), (1, 2), (2, 3), (3, 4), (50, 5)}


def test_rewrite_manifests_races_expire_snapshots(spark, tmp_path):
    """rewrite_manifests vs concurrent expiry on the same ref: expiry
    may materialize surviving manifests and delete expired ones while
    the squash replaces the head — both writers only ever swap
    content-identical manifests or remove dead ones, so the head chain
    resolves and content is intact afterwards."""
    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1], [2], [3], [4], [2, 5]])
    t.delete_where(spark, "v >= 5", mode="mor-pos")  # partial on last
    t = wh.load_table("db.t")
    assert manifest_chain_length(t) > 0

    orig = t.meta.backend.write_manifest_replace
    fired = {"n": 0}

    def inject(version, manifest):
        if fired["n"] == 0:  # expire exactly once, mid-squash
            fired["n"] = 1
            expire_snapshots(wh.load_table("db.t"), keep_last=1)
        return orig(version, manifest)

    t.meta.backend.write_manifest_replace = inject
    rewrite_manifests(t)
    t2 = wh.load_table("db.t")
    assert manifest_chain_length(t2) == 0
    assert _visible(spark, wh) == {(0, 1), (1, 2), (2, 3), (3, 4), (4, 2)}
    # time travel to the surviving head still works post-race
    assert t2.scan(spark, version=t2.meta.current_version()).count() == 5


def test_fast_forward_branch_races_expire_snapshots(spark, tmp_path):
    """Publish vs retention on the same ref (the last missing race
    edge): snapshot expiry firing mid-fast-forward must not break the
    replay — the live branch chain retention-pins its files
    (_shadow_live_paths), expiry never advances the version so the
    per-commit CAS still lands, and the published content equals the
    branch head."""
    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1, 5], [2, 6], [3, 7]])
    br = t.create_branch("wip")
    br.append(spark.createDataFrame([(80, 8)], "id bigint, v bigint"))
    wh.load_table("db.t").branch("wip")  # handle validity after append
    t.branch("wip").append(
        spark.createDataFrame([(90, 9)], "id bigint, v bigint")
    )

    main = wh.load_table("db.t")
    orig = main.meta.commit
    fired = {"n": 0}

    def inject(snapshot, expected_parent):
        if fired["n"] == 0:  # expire exactly once, mid-replay
            fired["n"] = 1
            expire_snapshots(wh.load_table("db.t"), keep_last=1)
        return orig(snapshot, expected_parent)

    main.meta.commit = inject
    main.fast_forward_branch(main.branch("wip"))
    assert fired["n"] == 1
    expect = {
        (0, 1), (1, 5), (2, 2), (3, 6), (4, 3), (5, 7), (80, 8), (90, 9)
    }
    assert _visible(spark, wh) == expect
    t2 = wh.load_table("db.t")
    assert "wip" not in t2.list_branches()
    # head chain resolves post-race (expiry materialized survivors)
    assert t2.scan(spark, version=t2.meta.current_version()).count() == 8


def test_convert_equality_deletes_aborts_on_concurrent_eq_delete(
    spark, tmp_path
):
    """A concurrent equality-delete landing between the conversion's
    scan and its commit changes the eq-op set the conversion was built
    from: the commit MUST abort (never double-apply, never drop the new
    op), the concurrent delete's effect survives, and a rerun on a
    fresh handle converges with zero equality ops left."""
    import pytest as _pt

    wh = _os_warehouse(tmp_path)
    t = _seed_table(spark, wh, [[1, 5], [2, 5]])  # ids (0,1),(1,5),(2,2),(3,5)
    t.delete_by_keys(
        spark, spark.createDataFrame([(5,)], "v bigint"), ["v"]
    )
    t = wh.load_table("db.t")

    orig = t._commit_with_retry

    def inject(*args):
        wh.load_table("db.t").delete_by_keys(
            spark, spark.createDataFrame([(2,)], "v bigint"), ["v"]
        )
        return orig(*args)

    t._commit_with_retry = inject
    with _pt.raises(ConcurrentModification):
        convert_equality_deletes(t, spark)
    # the concurrent eq-delete survived, nothing double-applied
    assert _visible(spark, wh) == {(0, 1)}
    t2 = wh.load_table("db.t")
    eq_left = [
        d for d in t2.snapshot().delete_files if d.get("kind") != "pos"
    ]
    assert len(eq_left) == 2, "new eq op must survive the aborted convert"
    # rerun on a fresh handle converges: both ops materialized
    res = convert_equality_deletes(t2, spark)
    assert res["converted"] == 2
    t3 = wh.load_table("db.t")
    assert all(d.get("kind") == "pos" for d in t3.snapshot().delete_files)
    assert _visible(spark, wh) == {(0, 1)}
