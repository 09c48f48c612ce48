"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts one Spark session on ``local[4]``
(the engine's own session factory), sets the workload up several times
(``setup_s`` is the median), runs its closed loop for ``--seconds``,
checks the engine's outputs, and prints a human-readable report followed
by ONE JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
The gated times are CPU seconds of this process and all under it (the
JVM included); wall latencies are printed as report-only lines.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a run that records every other request. Scratch
files live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time

SPARK_CPUS = 4
DRIVER_MEM = "1g"
SETUP_REPEATS = 3
TAIL_BEYOND = 10  # the tail is the highest percentile with >= 10 samples above it
BUILD_TIMEOUT_S = 600  # the first run in a checkout builds the fixtures
CLK_TCK = os.sysconf("SC_CLK_TCK")

E2E = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}  # name -> unit
LAYERS = ("harness", "etl", "snapshots", "fsio", "footer", "catalog", "plans", "spark", "streaming")
PER_LAYER = {
    "snapshots.append_s": "s", "snapshots.commit_jobs": "count", "snapshots.maint_s": "s",
    "snapshots.log_bytes_per_commit": "bytes", "snapshots.plan_latest_s": "s",
    "snapshots.plan_timetravel_s": "s", "snapshots.plan_pruned_s": "s",
    "snapshots.metadata_agg_s": "s", "snapshots.scan_legs": "count",
    "snapshots.footer_reads": "count", "snapshots.live_files": "count",
    "snapshots.stored_bytes_per_row": "bytes",
    "fsio.read_text_calls": "count", "fsio.read_text_bytes": "bytes", "fsio.stat_calls": "count",
    "fsio.list_calls": "count", "fsio.write_calls": "count", "fsio.self_s": "s",
    "catalog.load_table_s": "s", "plans.build_s": "s", "operators.relational_s": "s",
    "operators.llm_s": "s", "etl.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.shuffle_bytes": "bytes", "spark.driver_only_s": "s",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.idle_s": "s", "streaming.sink_s": "s",
    "streaming.state_rows": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio", "trace.spans_per_op": "count", "trace.unattributed_share": "ratio",
}
UNATTRIBUTED_MAX = 0.10  # per traced op, the wall time no wrapped layer accounts for


class Runtime:
    """What every workload shares: the session, seed, directories and
    tracer of this run."""

    def __init__(self, spark, seed, base, tracer, engine_fingerprint) -> None:
        self.spark = spark
        self.seed = seed
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, f"work-{os.getpid()}")
        self.tracer = tracer
        self.engine_fingerprint = engine_fingerprint
        self.clock = time.perf_counter
        self.latencies: list[float] = []
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.work)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` samples above it, never below the median."""
    xs = sorted(values)
    n = len(xs)
    if n - TAIL_BEYOND - 1 <= (n - 1) // 2:
        return statistics.median(xs), 50.0
    k = n - TAIL_BEYOND - 1
    return xs[k], 100.0 * (k + 1) / n


def source_fingerprint(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(f for f in filenames if f.endswith(".py")):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, pkg_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live descendant, including the children each of them has reaped: the
    Python driver, the JVM it launched and any Python workers."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended meanwhile
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / CLK_TCK


def start_spark(base: str):
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    from nagios_custom_etl_spark.session import get_spark

    return get_spark("perfbench", cpus=SPARK_CPUS)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)


def _build_fixtures(workload: str, base: str, engine_fingerprint: str) -> None:
    """Body of the fixture-building process: its own Spark session."""
    import workloads

    spark = start_spark(base)
    try:
        workloads.WORKLOADS[workload].build_fixtures(spark, os.path.join(base, "cache"), engine_fingerprint)
    finally:
        stop_spark(spark)


def ensure_fixtures(workload: str, base: str, engine_fingerprint: str) -> float | None:
    """Build the workload's stale cached fixtures in a separate process, so
    that the measured process never pays for a build: not in time, not in
    peak memory, not in a JVM warmed by the build's jobs. Returns the
    build's wall time, or None when every fixture was fresh."""
    import gen
    import workloads

    cache = os.path.join(base, "cache")
    keys = workloads.WORKLOADS[workload].fixture_keys(engine_fingerprint)
    if all(gen.cached_path(cache, name, key) for name, key in keys.items()):
        return None
    t0 = time.perf_counter()
    proc = multiprocessing.get_context("spawn").Process(
        target=_build_fixtures, args=(workload, base, engine_fingerprint))
    proc.start()
    proc.join(BUILD_TIMEOUT_S)
    if proc.is_alive():
        proc.kill()
        proc.join()
    if proc.exitcode != 0:
        raise RuntimeError(f"fixture build for {workload} exited with {proc.exitcode}")
    return time.perf_counter() - t0


def run(args, spark, base: str, engine_fingerprint: str) -> tuple[dict, dict]:
    import tracing
    import workloads

    tracer = tracing.Tracer(plant_read_text_s=args.plant_read_text_ms / 1e3)
    if args.trace or tracer.plant_read_text_s:
        tracer.install()
    rt = Runtime(spark, args.seed, base, tracer, engine_fingerprint)
    wl = workloads.WORKLOADS[args.workload](rt)
    report: dict = {"notes": []}
    try:
        pid = os.getpid()
        setups, setups_cpu = [], []
        for k in range(SETUP_REPEATS):
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            wl.setup(k)
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(tree_cpu_s(pid) - c0)
        phases = {"setups": time.perf_counter()}
        attempted, failed = wl.warmup()
        phases["warmup"] = time.perf_counter()
        jobs = tracing.SparkJobs(spark) if args.trace else None
        spark_totals: dict = {}
        job_intervals: list = []
        recorded: list[int] = []
        lat_rec, lat_plain = [], []
        cpu = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # a traced run records every other op: with two cycles or more, the
        # recorded and the plain ops hold alike shares of each kind of op
        min_ops = max(wl.min_ops, 2 * wl.cycle) if args.trace else wl.min_ops
        # closed loop until --seconds are used, in whole cycles: a cycle is
        # started only while at least half of a typical one still fits, and
        # at least min_ops ops are run
        while (i < min_ops or i % wl.cycle
               or deadline - time.perf_counter() >= 0.5 * wl.cycle * statistics.median(rt.latencies)):
            wl.prepare(i)
            record = bool(args.trace) and i % 2 == 1
            if jobs is not None:
                jobs.take()
            tracer.recording = record
            c0 = tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                with tracer.request(i, args.workload) if record else contextlib.nullcontext():
                    ok = wl.op(i)
            except Exception as ex:  # noqa: BLE001 — a failed request is counted, the loop goes on
                ok = False
                report["notes"].append(f"op {i} raised {type(ex).__name__}: {str(ex)[:300]}")
            dt = time.perf_counter() - t0
            cpu.append(tree_cpu_s(pid) - c0)
            tracer.recording = False
            attempted += 1
            failed += not ok
            rt.latencies.append(dt)
            (lat_rec if record else lat_plain).append(dt)
            if record:
                recorded.append(i)
                counters, intervals = jobs.take()
                job_intervals += intervals
                for key, val in counters.items():
                    spark_totals[key] = spark_totals.get(key, 0) + val
            wl.after_op(i, record)
            i += 1
        phases["loop"] = time.perf_counter()
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        checked, bad = wl.check()
        phases["check"] = time.perf_counter()
        attempted += checked
        failed += bad
        lat = rt.latencies
        tail_v, tail_p = tail(lat)
        report.update(ops=len(lat), op_latencies_s=lat, op_cpu_s=cpu, op_p50_s=statistics.median(lat),
                      op_tail_s=tail_v, tail_percentile=tail_p, setups=setups, setups_cpu_s=setups_cpu,
                      input_digest=wl.input_digest.hexdigest(), phases_end_s=phases)
        report.update(wl.report())
        if not args.trace:
            metrics = {
                "setup_s": statistics.median(setups_cpu),
                "op_cpu_s": sum(cpu) / len(cpu),
                "peak_rss_mb": rss,
            }
        else:
            self_times, shares = tracer.self_times()
            report["unattributed_share_per_op"] = shares
            metrics = layer_metrics(tracer, self_times, wl, recorded, lat_rec, lat_plain, spark_totals,
                                    job_intervals)
            metrics["trace.unattributed_share"] = max(shares, default=0.0)
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
        return {"attempted": attempted, "failed": failed, "metrics": metrics}, report
    finally:
        wl.close()
        tracer.uninstall()
        shutil.rmtree(rt.work, ignore_errors=True)


def layer_metrics(tracer, self_times, wl, recorded, lat_rec, lat_plain, spark_totals, job_intervals) -> dict:
    """Per-layer metrics per recorded op; 0 where a layer was not used."""
    n = max(len(recorded), 1)
    m = dict.fromkeys(PER_LAYER, 0.0)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = self_times.get(layer, 0.0) / n
    if lat_rec and lat_plain:
        m["trace.overhead_ratio"] = statistics.median(lat_rec) / statistics.median(lat_plain) - 1
    m["trace.spans_per_op"] = len(tracer.spans) / n
    c = tracer.counts
    for key in ("fsio.read_text_calls", "fsio.read_text_bytes", "fsio.stat_calls", "fsio.list_calls",
                "fsio.write_calls"):
        m[key] = c.get(key, 0) / n
    m["snapshots.footer_reads"] = sum(
        1 for sp in tracer.spans if sp.layer == "footer" and tracer.under(sp, "snapshots")) / n
    m["fsio.self_s"] = self_times.get("fsio", 0.0) / n

    def spent(layer, names):
        return sum(sp.end - sp.start for sp in tracer.outermost(layer, names))

    m["snapshots.append_s"] = spent("snapshots", ("append",)) / n
    m["snapshots.maint_s"] = spent("snapshots", ("dv_delete", "compact_small")) / n
    commits = tracer.outermost("snapshots", ("append", "dv_delete", "compact_small", "add_column"))
    m["snapshots.log_bytes_per_commit"] = c.get("fsio.write_bytes", 0) / len(commits) if commits else 0.0
    appends = [(sp.start + tracer.epoch_offset, sp.end + tracer.epoch_offset)
               for sp in tracer.outermost("snapshots", ("append",))]
    m["snapshots.commit_jobs"] = sum(
        1 for s, _ in job_intervals if any(a - 0.005 <= s <= b + 0.005 for a, b in appends)) / n
    m["catalog.load_table_s"] = spent("catalog", ("load_table",)) / n
    m["etl.plan_s"] = spent("etl", ("extract_pipeline",)) / n
    for key in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes"):
        m[f"spark.{key}"] = spark_totals.get(key, 0) / n
    m["spark.driver_only_s"] = (sum(lat_rec) - spark_totals.get("job_busy_s", 0.0)) / n
    m.update(wl.layer_metrics(tracer, recorded))
    return {k: float(v) for k, v in m.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-read-text-ms", type=float, default=0.0,
                   help="self-test only: delay every fsio.read_text by this much")
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nagios_custom_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (nagios_custom_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    base = os.path.join(root, ".perfbench")
    fingerprint = source_fingerprint(os.path.join(root, "nagios_custom_etl_spark"))
    build_s = ensure_fixtures(args.workload, base, fingerprint)
    load_before = os.getloadavg()
    spark = start_spark(base)
    try:
        result, report = run(args, spark, base, fingerprint)
        report["fixture_build_s"] = build_s
        report["phases_end_s"] = {k: v - started for k, v in report["phases_end_s"].items()}
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "plant_read_text_ms": args.plant_read_text_ms,
            "nproc": os.cpu_count(), "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "git_commit": git_commit(root),
            "engine_fingerprint": fingerprint,
            "fixtures": fixture_stamps(os.path.join(base, "cache")),
            "spark_master": spark.sparkContext.master,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        }
    finally:
        stop_spark(spark)
    units = E2E if not args.trace else PER_LAYER
    print(json.dumps({"stamp": stamp, "report": report}))
    for name, value in result["metrics"].items():
        print(f"{args.workload:14s} {name:34s} {value:14.6f} {units[name]}")
    print(f"{args.workload:14s} {'op_p50_s':34s} {report['op_p50_s']:14.6f} s  (wall; report only)")
    print(f"{args.workload:14s} {'op_tail_s':34s} {report['op_tail_s']:14.6f} s  "
          f"(wall, p{report['tail_percentile']:.1f} of {report['ops']} ops; report only)")
    if args.trace:
        share = result["metrics"]["trace.unattributed_share"]
        print(f"{args.workload:14s} attribution check: {'PASS' if share <= UNATTRIBUTED_MAX else 'FAIL'} "
              f"(at most {share:.1%} of a traced op's wall time is in no wrapped layer; "
              f"limit {UNATTRIBUTED_MAX:.0%})")
    correct = result["failed"] == 0
    print(f"{args.workload:14s} output check: {'PASS' if correct else 'FAIL'} "
          f"({result['failed']} failed of {result['attempted']} attempted)")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


def fixture_stamps(cache: str) -> dict:
    """The stamp each cached fixture was built with (its key and the
    mtime/size fingerprint of its files)."""
    out = {}
    if os.path.isdir(cache):
        for name in sorted(os.listdir(cache)):
            if name.endswith(".stamp.json"):
                with open(os.path.join(cache, name)) as fh:
                    out[name[: -len(".stamp.json")]] = json.load(fh)
    return out


if __name__ == "__main__":
    sys.exit(main())
