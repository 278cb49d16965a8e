"""HTTP catalog adapter: the full table commit protocol running against
an actual network service (in-process HTTP server) — proof the
MetadataBackend seam ports to a remote catalog, with the linearization
point server-side."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import types as T

from iceberg_loader_spark.tables import Warehouse
from iceberg_loader_spark.tables.format import (
    CommitConflict,
    DataFile,
    new_snapshot,
)
from iceberg_loader_spark.tables.httpcatalog import (
    CatalogHTTPServer,
    HttpCatalogStore,
)
from iceberg_loader_spark.tables.objectstore import (
    ObjectStoreBackend,
    PreconditionFailed,
)
from iceberg_loader_spark.tables.table import Table


def _schema():
    return T.StructType([T.StructField("id", T.LongType())])


@pytest.fixture()
def server():
    srv = CatalogHTTPServer()
    with srv as url:
        yield url


def test_http_store_conditional_put_contract(server):
    store = HttpCatalogStore(server)
    etag = store.put("k", b"1", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"2", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"2", if_match="wrong")
    etag2 = store.put("k", b"2", if_match=etag)
    assert store.get("k") == (b"2", etag2)
    with pytest.raises(KeyError):
        store.get("absent")
    assert store.list_keys("k") == ["k"]
    store.delete("k")
    assert store.list_keys("") == []


def test_table_round_trip_over_http(spark, server, tmp_path):
    store = HttpCatalogStore(server)
    wh = Warehouse(
        str(tmp_path),
        backend_factory=lambda root: ObjectStoreBackend(store, root),
    )
    t = Table.create(wh, "db.t", _schema())
    t.append(spark.createDataFrame([(1,), (2,)], _schema()))
    t.append(spark.createDataFrame([(3,)], _schema()))
    t2 = wh.load_table("db.t")
    assert sorted(r.id for r in t2.scan(spark).collect()) == [1, 2, 3]
    assert t2.meta.current_version() == 3
    assert t2.scan(spark, version=2).count() == 2  # time travel over HTTP
    # a stale-parent commit loses server-side
    dup = new_snapshot(
        t2.snapshot(2), "append", _schema().jsonValue(), [], [], {}
    )
    with pytest.raises(CommitConflict):
        t2.meta.commit(dup, expected_parent=t2.snapshot(2))


def test_threaded_commit_race_over_http(server, tmp_path):
    """Two client threads race commits through the HTTP CAS; every commit
    must land exactly once with strictly linear versions — the
    linearization now happens in the SERVER, not in client-side locks."""
    store = HttpCatalogStore(server)
    wh = Warehouse(
        str(tmp_path),
        backend_factory=lambda root: ObjectStoreBackend(store, root),
    )
    Table.create(wh, "db.race", _schema())
    errors: list[Exception] = []

    def writer(wid: int):
        try:
            meta = wh.metadata("db.race")
            for i in range(5):
                for _ in range(200):
                    parent = meta.load_snapshot()
                    snap = new_snapshot(
                        parent,
                        "append",
                        parent.schema_json,
                        parent.partition_spec,
                        parent.files
                        + [
                            DataFile(
                                path=f"data/w{wid}_{i}.parquet",
                                rows=1,
                                bytes=1,
                            )
                        ],
                        parent.properties,
                    )
                    try:
                        meta.commit(snap, expected_parent=parent)
                        break
                    except CommitConflict:
                        time.sleep(0.001)
                else:  # pragma: no cover
                    raise RuntimeError(f"writer {wid} starved")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert errors == []
    final = wh.metadata("db.race").load_snapshot()
    assert {f.path for f in final.files} == {
        f"data/w{w}_{i}.parquet" for w in (1, 2) for i in range(5)
    }
    assert final.version == 11


def test_cross_process_sparkloader_race_over_http(spark, server, tmp_path):
    """END-TO-END cross-process CAS linearization: two real OS processes,
    each with its own SparkSession and SparkLoader, race appends through
    the same CatalogHTTPServer. Every append must land exactly once with
    strictly linear versions — the earlier threaded test shares one
    Python process; this one shares nothing but the HTTP endpoint and
    the data-file directory (the production topology)."""
    import os
    import subprocess
    import sys

    n = 3
    store = HttpCatalogStore(server)
    wh = Warehouse(
        str(tmp_path),
        backend_factory=lambda root: ObjectStoreBackend(store, root),
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("w", T.LongType())]
    )
    Table.create(wh, "db.race_px", schema)

    worker = os.path.join(os.path.dirname(__file__), "_http_race_worker.py")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + env.get("PYTHONPATH", "").split(os.pathsep)
    )
    procs = [
        subprocess.Popen(
            [sys.executable, worker, server, str(tmp_path), str(wid), str(n)],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for wid in (1, 2)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        outs.append((p.returncode, out.decode(), err.decode()))
    assert all(rc == 0 for rc, _, _ in outs), outs

    final = wh.load_table("db.race_px")
    # every append landed exactly once: 2 workers x n single-row loads
    got = sorted(
        (r.w, r.id) for r in final.scan(spark).select("w", "id").collect()
    )
    assert got == sorted(
        (w, w * 1000 + i) for w in (1, 2) for i in range(n)
    )
    # strictly linear versions: create + ONE evolve-schema (whichever
    # worker's first flush won the race to add _load_dttm; the loser
    # rebases and finds the column present) + 2n appends, no lost commit
    assert final.meta.current_version() == 2 + 2 * n
    ops = [
        final.meta.load_snapshot(v).operation
        for v in range(1, final.meta.current_version() + 1)
    ]
    assert ops.count("evolve-schema") == 1
    assert ops.count("append") == 2 * n
