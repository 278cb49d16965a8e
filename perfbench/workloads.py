"""The benchmark workloads.

Each workload is driven by one client in a closed loop: an operation
starts only after the previous one finished. A run is a set-up, then
whole passes of a fixed amount of work until the run's time is used up.
Every operation is timed on its own; correctness gates run between
operations, outside the timed region, and a wrong result counts the
operation as failed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import json
import os
import random
import shutil
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

import bench
import datagen
from iceberg_loader_spark.config import LoaderConfig
from iceberg_loader_spark.loader import SparkLoader
from iceberg_loader_spark.operators import all_oracles, all_queries
from iceberg_loader_spark.tables import Warehouse, maintenance
from tools import verify_local


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


# (pid, tid) -> whether the thread is a JIT compiler thread; a thread
# keeps its name, so each one's comm file is read once
_JIT_THREADS: dict[tuple[int, int], bool] = {}


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name, or None when
    the process or thread is gone."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. The run starts the JVM
    with a fixed set of them, so none exits and takes its count along."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        key = (pid, int(tid))
        if key not in _JIT_THREADS:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    _JIT_THREADS[key] = " CompilerThre" in f.read()
            except OSError:
                continue
        if _JIT_THREADS[key]:
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if fields is not None:
                ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and every process
    it started (the Spark JVM and the Python workers, including children
    already reaped), less the JVM's JIT compiler threads: a short-lived
    JVM compiles on its own schedule, and that work is neither the
    program's nor steady from run to run. The kernel leaves stolen time
    out of these counts."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(f"/proc/{name}/stat")
            if fields is not None:
                procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me, ticks = os.getpid(), 0
    for pid, (ppid, cpu) in procs.items():
        p = pid
        while p > 1 and p != me:
            p = procs.get(p, (0, 0))[0]
        if p == me:
            ticks += cpu
            if ppid == me:
                ticks -= _jit_ticks(pid)
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """Per-run state: the session, the run's private work directory,
    wall-clock and CPU samples per operation kind and the failure count."""

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = None
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: dict[str, list[float]] = {}
        self.pass_wall_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.disk_bytes_per_row: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.errors: list[str] = []
        self.timing = True
        self._pass_s = 0.0
        self._pass_cpu_s = 0.0
        self._groups = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    @contextlib.contextmanager
    def op(self, kind: str, **attrs):
        """Time one operation, in wall-clock and in CPU time of the whole
        process tree (read outside the timed interval). Under tracing it
        is also the root span and gets its own Spark job group, so its
        jobs can be counted. Set-up runs operations with ``timing`` off:
        unrecorded."""
        if not self.timing:
            yield attrs
            return
        self.attempted += 1
        span = contextlib.nullcontext(attrs)
        if self.tracer is not None:
            self._groups += 1
            attrs["job_group"] = f"perfbench-{self._groups}"
            self.spark.sparkContext.setJobGroup(attrs["job_group"], kind)
            span = self.tracer.span(f"op.{kind}", attrs)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with span:
                yield attrs
        finally:
            dt_s = time.perf_counter() - t0
            cpu_s = tree_cpu_s() - cpu0
            self.samples.setdefault(kind, []).append(dt_s * 1000.0)
            self.cpu_samples.setdefault(kind, []).append(cpu_s * 1000.0)
            self._pass_s += dt_s
            self._pass_cpu_s += cpu_s
            self.rows += attrs.get("rows", 0)
            if self.tracer is not None:
                self.spark.sparkContext.setJobGroup("perfbench-untimed", "gate")

    def gate(self):
        """Context for untimed work: checks and bookkeeping."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.paused()

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(what)
            sys.stderr.write(f"[perfbench] wrong result: {what}\n")

    def run_pass(self, workload, index: int) -> None:
        self._pass_s = self._pass_cpu_s = 0.0
        try:
            workload.run_pass(self, index)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            sys.stderr.write(traceback.format_exc())
        self.pass_wall_s.append(self._pass_s)
        self.pass_cpu_s.append(self._pass_cpu_s)


def release_session_state(spark) -> None:
    """bench.py's inter-query cleanup: clear the session memo, unpersist
    every persisted RDD now, drop cached plans, so no query is timed
    against another query's cached blocks."""
    bench._clear_session_memos(spark)
    bench._release_all_blocks(spark)
    spark.catalog.clearCache()
    gc.collect()


# ---------------------------------------------------------------------------
# stream_ingest


class StreamIngest:
    """One producer streams messy JSON event dicts through
    ``SparkLoader.load_data`` in ~1,000-row micro-batches (one snapshot
    per call) into a ``day(ts)``-partitioned table. A CDC tail follows:
    ``CDC_ROUNDS`` copy-on-write upserts keyed on ``event_id`` (half
    corrections of recent events, half new events), each followed by a
    point lookup, a key-range filter and a full aggregate on the same
    table. Compaction and snapshot expiry close the pass. The 100k-event
    stream is cut into ``SEGMENTS`` segments; a pass streams one segment
    into a fresh table."""

    name = "stream_ingest"
    SEGMENTS = 4
    CDC_ROUNDS = 2
    UPDATES = 500
    INSERTS = 500
    RANGE = 1000
    WARM_BATCHES = 8
    CONFIG = LoaderConfig(
        partition_by="day(ts)", schema_evolution=True, batch_size=4096
    )
    UPSERT = LoaderConfig(
        partition_by="day(ts)", schema_evolution=True, batch_size=4096,
        join_cols=("event_id",),
    )

    def setup(self, run: Run) -> None:
        c = datagen.events_columns(run.seed)
        rng = np.random.default_rng([run.seed, 1])
        base = datagen.EVENTS_START
        n = len(c["event_id"])
        ts = [
            (base + dt.timedelta(microseconds=int(u))).isoformat(sep=" ")
            for u in c["ts_us"].tolist()
        ]
        rows = []
        for i in range(n):
            row = {
                "event_id": int(c["event_id"][i]),
                "ts": ts[i],
                "user_id": int(c["user_id"][i]),
                "event_type": datagen.EVENT_TYPES[c["event_type"][i]],
                "value": float(c["value"][i]),
                "props": {"k": int(c["k"][i]), "tags": ["a", "b"][: i % 3]},
            }
            if i % 97 == 0:
                del row["user_id"]  # sparse key: lands as NULL
            rows.append(row)
        seg = -(-n // self.SEGMENTS)
        self.segments = []
        for s in range(self.SEGMENTS):
            part = rows[s * seg:(s + 1) * seg]
            # a new key appears halfway through every segment, so each
            # pass's table evolves its schema exactly once
            for row in part[len(part) // 2:]:
                row["channel"] = ["web", "app", "api"][row["event_id"] % 3]
            cuts, pos = [], 0
            while pos < len(part):
                size = int(rng.integers(900, 1101))
                cuts.append(part[pos:pos + size])
                pos += size
            self.segments.append(cuts)
        # warm pass: JIT, Python workers, the partitioned write path with
        # its schema evolution, merge, reads and maintenance, on the
        # batches around the middle of the last segment
        cuts = self.segments[-1]
        mid = len(cuts) // 2
        half = self.WARM_BATCHES // 2
        self._pass(run, cuts[mid - half:mid + half], -1, 1)

    def run_pass(self, run: Run, index: int) -> None:
        self._pass(run, self.segments[index % self.SEGMENTS], index, self.CDC_ROUNDS)

    def _pass(self, run: Run, batches, index: int, rounds: int) -> None:
        wh_dir = run.path(f"stream-{index}")
        wh = Warehouse(wh_dir)
        loader = SparkLoader(run.spark, wh)
        for batch in batches:
            with run.op("commit", rows=len(batch)):
                loader.load_data(batch, "db.events", self.CONFIG)
        with run.gate():
            # the model of the table: event_id -> round(value * 100)
            streamed = [r for b in batches for r in b]
            model = {r["event_id"]: round(r["value"] * 100) for r in streamed}
            # CDC favours recent rows: corrections hit the newest ~10 %
            recent = streamed[-max(len(streamed) // 10, 2 * self.UPDATES):]
            rows = {r["event_id"]: r for r in recent}
            t = wh.load_table("db.events")
            self._verify(run, t, model, "after the stream")
        for rnd in range(rounds):
            self._cdc_round(run, loader, t, model, rows, index, rnd)
        with run.op("maintain"):
            maintenance.rewrite_data_files(t, run.spark)
            maintenance.expire_snapshots(t, keep_last=1)
        with run.gate():
            live = self._verify(run, t, model, "after compaction")
            if run.timing:
                run.disk_bytes_per_row.append(dir_bytes(wh_dir) / max(live, 1))
        shutil.rmtree(wh_dir, ignore_errors=True)

    def _cdc_round(self, run: Run, loader, t, model, rows, index: int, rnd: int):
        """One upsert of corrections to the stream's newest events plus
        new events, then three reads gated against the model."""
        rng = np.random.default_rng([run.seed, 2, index + 1, rnd])
        recent = sorted(rows)
        upd = rng.choice(recent, self.UPDATES, replace=False).tolist()
        first_new = datagen.N_EVENTS * (index + 2) + rnd * self.INSERTS
        templates = rng.choice(recent, self.INSERTS).tolist()
        values = np.round(rng.exponential(60.0, self.UPDATES + self.INSERTS), 2)
        batch = []
        for j, key in enumerate(upd + list(range(first_new, first_new + self.INSERTS))):
            src = rows[key if j < self.UPDATES else templates[j - self.UPDATES]]
            batch.append({**src, "event_id": key, "value": float(values[j])})
        with run.op("upsert", source_bytes=len(json.dumps(batch))):
            loader.load_data(batch, "db.events", self.UPSERT)
        with run.gate():
            for r in batch:
                model[r["event_id"]] = round(r["value"] * 100)
        probe = int(upd[int(rng.integers(0, self.UPDATES))])
        with run.op("read", read="point"):
            got = t.scan(run.spark, where=f"event_id == {probe}").collect()
        with run.gate():
            run.check(
                len(got) == 1 and round(got[0]["value"] * 100) == model[probe],
                f"point lookup of updated event {probe}",
            )
        lo = int(rng.integers(min(model), min(model) + len(model) // 2))
        with run.op("read", read="range"):
            n = t.scan(
                run.spark, where=f"event_id >= {lo} and event_id < {lo + self.RANGE}"
            ).count()
        with run.gate():
            want = sum(1 for k in range(lo, lo + self.RANGE) if k in model)
            run.check(n == want, f"range [{lo}, {lo + self.RANGE}) returned {n}, model {want}")
        with run.op("read", read="aggregate"):
            agg = t.scan(run.spark).agg(
                F.count("*"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")),
            ).first()
        with run.gate():
            want = (len(model), sum(model.values()))
            run.check(tuple(agg) == want, f"aggregate {tuple(agg)} != model {want}")

    @staticmethod
    def _verify(run, t, model, when) -> int:
        schema = {f.name: f.dataType.typeName() for f in t.schema().fields}
        run.check("channel" in schema, f"evolved column missing {when}")
        run.check(
            schema.get("ts", "").startswith("timestamp"),
            f"ts stored as {schema.get('ts')} {when}",
        )
        got = t.scan(run.spark).agg(
            F.count("*"),
            F.countDistinct("event_id"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")),
        ).first()
        want = (len(model), len(model), sum(model.values()))
        run.check(tuple(got) == want, f"stream aggregates {tuple(got)} != {want} {when}")
        return got[0]


# ---------------------------------------------------------------------------
# query_mix


# One registered query per operator family (the relational family also
# gets the JSON-functions query over the messy ``events.props`` column).
QUERY_MIX = [
    "q1_pricing_summary",
    "q9_product_revenue",
    "simhash_documents",
    "tfidf_top5_per_doc",
    "bm25_topk_docs",
    "ann_ivf_cosine",
    "stream_session_30m_users",
    "gapfill_hourly_locf",
    "pagerank_event_transitions",
    "json_funcs_events_props",
]


class QueryMix:
    """Read-only analytics over the seeded sf0.1 fixtures: one registered
    query per operator family, each run to ``.count()``, in a
    seed-shuffled order per pass."""

    name = "query_mix"

    def setup(self, run: Run) -> None:
        import duckdb

        self.sf_dir = run.path("sf")
        rows = datagen.write_sf_dir(run.seed, self.sf_dir)
        self.total_rows = sum(rows.values())
        qs, oracles = all_queries(), all_oracles()
        self.queries = {k: qs[k] for k in QUERY_MIX}
        con = duckdb.connect()
        for t in rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        # warm pass doubles as the oracle gate: every result must equal
        # its DuckDB oracle; the timed passes then check row counts
        self.expected_rows = {}
        for k in self._order(run, -1):
            got = self.queries[k](run.spark, self.sf_dir).toPandas()
            release_session_state(run.spark)
            want = con.sql(oracles[k]).df()
            # an empty result would match vacuously
            run.check(
                len(want) > 0 and frames_equal(got, want),
                f"{k} differs from its oracle or is empty",
            )
            self.expected_rows[k] = len(want)
        con.close()

    def _order(self, run: Run, index: int) -> list[str]:
        order = list(QUERY_MIX)
        random.Random(f"{run.seed}/{index}").shuffle(order)
        return order

    def run_pass(self, run: Run, index: int) -> None:
        for k in self._order(run, index):
            fn = self.queries[k]
            module = fn.__module__.removeprefix("iceberg_loader_spark.")
            module = module.removeprefix("operators.")
            with run.op("query", query=k, module=module) as attrs:
                t0 = time.perf_counter()
                df = fn(run.spark, self.sf_dir)
                t1 = time.perf_counter()
                n = df.count()
                attrs["build_ms"] = (t1 - t0) * 1000.0
                attrs["action_ms"] = (time.perf_counter() - t1) * 1000.0
            with run.gate():
                run.check(
                    n == self.expected_rows[k],
                    f"{k} returned {n} rows, oracle {self.expected_rows[k]}",
                )
                release_session_state(run.spark)
        if not run.disk_bytes_per_row:
            run.disk_bytes_per_row.append(dir_bytes(self.sf_dir) / self.total_rows)


def frames_equal(got, want) -> bool:
    try:
        verify_local.compare(got, want)
    except AssertionError:
        return False
    return True


WORKLOADS = {w.name: w for w in (StreamIngest, QueryMix)}
