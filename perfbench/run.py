"""Benchmark entry point.

    python3 perfbench/run.py --workload <stream_ingest|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The run builds its inputs from
``--seed``, sets up, then measures whole passes of its workload until
``--seconds`` have gone by (at least one). The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of one
traced pass with ``--trace 1``. The line before it carries the
workload-specific detail (latencies per operation kind, host noise).
Everything the run writes
stays under ``.perfbench/`` in the checkout; its work directory is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_loader_spark"

# Tail percentile per workload: the highest percentile that leaves about
# five samples beyond it in one pass (README.md).
TAIL_PCT = {"stream_ingest": 80, "query_mix": 75}

OPERATOR_MODULES = [
    "relational", "tpch_extra", "dedup", "text", "retrieval", "similarity",
    "streaming.windows", "timeseries", "graph",
]
SPARK_OP_KINDS = ["commit", "upsert", "read", "query"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(TAIL_PCT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(workdir: str) -> None:
    """Everything a run spawns stays inside the checkout and is sized to
    the box: one local executor with one slot per core, a JVM heap of a
    quarter of RAM (at most 2 GB, minimum equal to maximum and touched at
    start, so how much of it the collector happens to reach does not vary
    peak RSS run to run), JIT compiler threads that live as long as the
    JVM (their CPU is left out of the CPU metrics), Spark local and temp
    dirs under the run's work dir, and the checkout on the Python workers'
    path."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


def start_spark(workdir: str):
    from iceberg_loader_spark import get_spark

    nproc = os.environ["SPARK_GRAFT_CPUS"]
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch "
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort at exit
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_noise(before: dict, after: dict) -> dict:
    """Busy and steal share of all CPU time during the timed phase, from
    bench.py's /proc/stat reader (a degraded hypervisor window shows as
    high steal)."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "busy_pct": round(100.0 * (total - d["idle"] - d["iowait"]) / total, 2),
        "steal_pct": round(100.0 * d["steal"] / total, 2),
    }


def peak_rss_mb(spark) -> float:
    """Spark JVM high-water RSS plus this process's peak RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM"):
                jvm_kb = int(ln.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def pct(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile: a Beta-weighted mean
    of all order statistics. With 10-50 samples it does not jump between
    neighbouring samples the way a single order statistic does, which
    matters for the query mix, whose queries' latencies are far apart."""
    import numpy as np

    if not values:
        return 0.0
    x = np.sort(np.asarray(values, dtype=float))
    n, p = len(x), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 4001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    edges = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1], left=0.0, right=1.0)
    return float(np.diff(edges) @ x)


def count_spark_work(spark, spans) -> None:
    """Fill each operation span with the jobs, executed stages and tasks
    of its job group, once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    for s in spans:
        group = s.attrs.get("job_group")
        if not s.name.startswith("op.") or group is None:
            continue
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                done = st.numCompletedTasks + st.numFailedTasks if st else 0
                if done:
                    stages += 1
                    tasks += done
        s.attrs.update(jobs=jobs, stages=stages, tasks=tasks)


def layer_metrics(tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced pass. Each is 0 where the
    workload never reaches the layer."""
    spans = tracer.spans
    ops = [s for s in spans if s.name.startswith("op.")]
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(i)

    def named(name):
        return [spans[i] for i in by_name.get(name, [])]

    def kind_ops(kind):
        return [s for s in ops if s.name == f"op.{kind}"]

    def ratio(a, b):
        return a / b if b else 0.0

    def total_ms(name):
        return sum(s.ms for s in named(name))

    def mean_attr(items, key):
        return ratio(sum(s.attrs.get(key, 0) for s in items), len(items))

    # "per commit" metrics cover the stream's commits, not the upserts
    commit_roots = {spans.index(s) for s in kind_ops("commit")}
    loads = [i for i in by_name.get("loader.load_data", [])
             if spans[i].root in commit_roots]
    n_load, n_ops = len(loads), len(ops)

    def commit_ms(name):
        return sum(s.ms for s in named(name) if s.root in commit_roots)

    merges, upserts = named("tables.table.merge"), kind_ops("upsert")
    commits = named("tables.format.commit")
    prunes = [s for s in named("tables.filters.prune_files") if s.attrs["filtered"]]
    read_roots = {spans.index(s) for s in kind_ops("read")}
    read_scans = [s for s in named("tables.table.scan") if s.root in read_roots]
    fmt = ("tables.format.load_snapshot", "tables.format.commit",
           "tables.format.read_manifest")
    fmt_outer = [
        s for s in spans
        if s.name in fmt and (s.parent is None or spans[s.parent].name not in fmt)
    ]
    rewrites = named("tables.maintenance.rewrite_data_files")
    expires = named("tables.maintenance.expire_snapshots")
    queries = kind_ops("query")

    m = {
        "sources.normalize.ms_per_commit": (ratio(
            commit_ms("sources.normalize.create_record_batches_from_dicts")
            + commit_ms("sources.normalize.cast_to_schema"), n_load), "ms"),
        "loader.self_ms_per_commit": (
            ratio(sum(tracer.self_ms(i) for i in loads), n_load), "ms"),
        "tables.table.append_ms_per_commit": (
            ratio(commit_ms("tables.table.append"), n_load), "ms"),
        "tables.table.files_added_per_commit": (ratio(
            sum(s.attrs.get("files_added", 0) for s in named("tables.table.append")
                if s.root in commit_roots), n_load), "count"),
        "tables.table.add_columns_calls_per_commit": (ratio(
            sum(s.root in commit_roots for s in named("tables.table.add_columns")),
            n_load), "count"),
        "tables.table.merge_ms_per_upsert": (
            ratio(sum(s.ms for s in merges), len(upserts)), "ms"),
        "tables.table.files_rewritten_per_upsert": (ratio(
            sum(s.attrs.get("files_rewritten", 0) for s in merges), len(upserts)),
            "count"),
        "tables.table.rewrite_bytes_per_source_byte": (ratio(
            sum(s.attrs.get("bytes_written", 0) for s in merges),
            sum(s.attrs.get("source_bytes", 0) for s in upserts)), "ratio"),
        "tables.table.scan_plan_ms": (
            ratio(sum(s.ms for s in read_scans), len(read_scans)), "ms"),
        "tables.format.load_snapshot_calls_per_op": (
            ratio(len(named("tables.format.load_snapshot")), n_ops), "count"),
        "tables.format.manifest_reads_per_op": (
            ratio(len(named("tables.format.read_manifest")), n_ops), "count"),
        "tables.format.metadata_ms_per_op": (
            ratio(sum(s.ms for s in fmt_outer), n_ops), "ms"),
        "tables.format.commit_ms": (
            ratio(sum(s.ms for s in commits), len(commits)), "ms"),
        "tables.format.manifest_bytes_per_commit": (
            mean_attr(commits, "manifest_bytes"), "bytes"),
        "tables.format.commit_conflicts": (float(sum(
            s.attrs.get("error") == "CommitConflict" for s in commits)), "count"),
        "tables.filters.prune_ms": (
            ratio(sum(s.ms for s in prunes), len(prunes)), "ms"),
        "tables.filters.files_kept_ratio": (ratio(
            sum(s.attrs["files_kept"] for s in prunes),
            sum(s.attrs["files_in"] for s in prunes)), "ratio"),
        "tables.maintenance.rewrite_ms": (
            ratio(sum(s.ms for s in rewrites), len(rewrites)), "ms"),
        "tables.maintenance.rewrite_bytes": (mean_attr(rewrites, "bytes_after"), "bytes"),
        "tables.maintenance.files_before": (mean_attr(rewrites, "files_before"), "count"),
        "tables.maintenance.files_after": (mean_attr(rewrites, "files_after"), "count"),
        "tables.maintenance.expire_ms": (
            ratio(sum(s.ms for s in expires), len(expires)), "ms"),
        "tables.maintenance.manifests_expired": (
            mean_attr(expires, "manifests_expired"), "count"),
    }
    for mod in OPERATOR_MODULES:
        qs = [s for s in queries if s.attrs.get("module") == mod]
        m[f"operators.{mod}.build_ms"] = (mean_attr(qs, "build_ms"), "ms")
        m[f"operators.{mod}.action_ms"] = (mean_attr(qs, "action_ms"), "ms")
    m["sources.tables.load_table_ms"] = (
        ratio(total_ms("sources.tables.load_table"), len(queries)), "ms")
    for kind in SPARK_OP_KINDS:
        ko = kind_ops(kind)
        for what in ("jobs", "stages", "tasks"):
            m[f"spark.{kind}.{what}_per_op"] = (mean_attr(ko, what), "count")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.stderr.write(
            f"perfbench: no {PACKAGE}/ beside {os.path.basename(HERE)}/ — "
            "run from the root of a source checkout\n"
        )
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=out_dir)
    try:
        pin_environment(workdir)
        return measure(args, workdir, out_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def measure(args, workdir: str, out_dir: str) -> int:
    import workloads

    cpu_setup = workloads.tree_cpu_s()
    t_setup = time.perf_counter()
    spark = start_spark(workdir)
    try:
        import bench
        import iceberg_loader_spark
        from tracing import Tracer, install_layer_wrappers

        if os.path.dirname(iceberg_loader_spark.__file__) != os.path.join(ROOT, PACKAGE):
            raise RuntimeError(f"{PACKAGE} resolved outside the checkout")
        run = workloads.Run(spark, args.seed, workdir)
        workload = workloads.WORKLOADS[args.workload]()
        spark.range(1).count()
        run.timing = False
        workload.setup(run)
        run.timing = True
        setup_wall_s = time.perf_counter() - t_setup
        setup_s = workloads.tree_cpu_s() - cpu_setup

        stat0 = bench._cpu_stat()
        t0 = time.perf_counter()
        tracer = None
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}")
            install_layer_wrappers(tracer)
            run.tracer = tracer
            try:
                run.run_pass(workload, 0)
            finally:
                run.tracer = None
                tracer.uninstall()
            count_spark_work(spark, tracer.spans)
        else:
            index = 0
            while index == 0 or time.perf_counter() - t0 < args.seconds:
                run.run_pass(workload, index)
                index += 1
        timed_s = time.perf_counter() - t0
        host = host_noise(stat0, bench._cpu_stat())
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    lat = run.samples
    tail = TAIL_PCT[args.workload]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(run.pass_wall_s),
        "setup_wall_s": round(setup_wall_s, 3),
        "timed_s": round(timed_s, 3),
        "host": host,
        "samples_ms": {k: [round(x, 1) for x in v] for k, v in lat.items()},
        "tail_pct": tail,
        "errors": run.errors[:5],
    }
    for kind, values in sorted(lat.items()):
        detail[f"{kind}_ms_p50"] = round(pct(values, 50), 3)
        detail[f"{kind}_ms_p{tail}"] = round(pct(values, tail), 3)
        detail[f"{kind}_cpu_ms_p50"] = round(pct(run.cpu_samples[kind], 50), 3)
    detail["wall_s"] = round(statistics.median(run.pass_wall_s), 4)
    if args.workload == "stream_ingest":
        commit_s = sum(lat.get("commit", [])) / 1000.0
        detail["ingest_rows_per_s"] = round(run.rows / commit_s, 1) if commit_s else 0.0
        detail["maintain_s"] = round(pct(lat.get("maintain", []), 50) / 1000.0, 4)
    detail["error_rate"] = round(run.failed / max(run.attempted, 1), 6)

    if args.trace:
        layer = layer_metrics(tracer)
        # tracing overhead = this minus the untraced runs' detail wall_s
        layer["trace.wall_s"] = (run.pass_wall_s[-1], "s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        tracer.write(os.path.join(
            out_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(run.pass_cpu_s), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "disk_bytes_per_row": {
                "value": statistics.median(run.disk_bytes_per_row or [0.0]),
                "unit": "B/row",
            },
        }
    failed = min(run.failed, run.attempted)
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
