"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 10 --trace 0

Starts one local Spark session sized for this host, makes the workload's
inputs from ``--seed``, runs one untimed warm-up pass that also checks the
results, then runs timed passes until ``--seconds`` have passed and the
workload's ``min_passes`` are done. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` Spark's
event log is on and the metrics are the per-layer ones. ``--workload all``
runs every workload in turn, each in its own process, and sums them into one
such object whose metrics are named ``<workload>.<metric>``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import clock

_PROCESS_START = clock.now()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

import eventlog  # noqa: E402
from workloads import WORKLOADS, Context, RegistryWorkload, StarEtlWorkload  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the session's own
    default (16g) does not fit a small host shared with other work."""
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, total_kib // 4 // 1024))}m"


def start_session(work: str, trace: bool):
    from songs_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.durability=test -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cpus=host_cores(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kib / 1024


def median_pass_s(passes: list) -> float:
    return statistics.median(sum(op.wall_s for op in ops) for ops in passes)


def end_to_end(setup_s: float, passes: list, attempted: int, failed: int) -> dict:
    per_op: dict[str, list[float]] = {}
    for ops in passes:
        for op in ops:
            per_op.setdefault(op.name, []).append(op.wall_s)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median_pass_s(passes), "s"),
        "op_s.geomean": (
            statistics.geometric_mean(statistics.median(v) for v in per_op.values()),
            "s",
        ),
        "ok_frac": (1 - failed / attempted, "ratio"),
    }


def per_layer(ctx, workload, passes, window, session_s, rss_mb, persisted, cores) -> dict:
    """Per-layer metrics of the timed passes, from the benchmark's own spans
    and the Spark event log (read after the session has stopped)."""
    events = list(eventlog.read_events(os.path.join(ctx.work, "eventlog")))
    since, until = (int(t * 1000) for t in window)
    groups = eventlog.summarize(events, since, until)
    n = len(passes)
    spans = [s for s in ctx.spans if window[0] <= s[1] <= window[1]]

    # Execution jobs run on the driver thread under an explicit group; every
    # other job of the window (including those a pipeline submits from its
    # own threads) is build work.
    exec_jobs = sum(g.jobs for name, g in groups.items() if name.endswith((":exec", "star:check")))
    all_jobs = sum(g.jobs for g in groups.values())

    # The engine totals cover the pass itself: the queries, or the pipeline
    # call (not the check that follows it).
    work = eventlog.GroupStats()
    for name, g in groups.items():
        if name != "star:check":
            work.add(g)
    phase = [(s, e) for label, s, e in spans if label in ("build", "exec", "pipeline")]
    phase_ms = sum(int(e * 1000) - int(s * 1000) for s, e in phase)
    idle_ms = phase_ms - sum(
        eventlog.covered_ms(work.job_spans, int(s * 1000), int(e * 1000)) for s, e in phase
    )

    ingest, dims, fact, ingest_util = [], [], [], []
    if isinstance(workload, StarEtlWorkload):
        for label, s, e in spans:
            if label != "pipeline":
                continue
            inner = [(lb, s2, e2) for lb, s2, e2 in spans if s <= s2 <= e]
            ingest_end = max(e2 for lb, _, e2 in inner if lb == "ingest")
            fact_start = min(s2 for lb, s2, _ in inner if lb == "build_fact")
            ingest.append(ingest_end - s)
            dims.append(fact_start - ingest_end)
            fact.append(e - fact_start)
            step = eventlog.summarize(events, int(s * 1000), int(ingest_end * 1000))
            ingest_util.append(
                sum(g.task_ms for g in step.values()) / 1000 / ((ingest_end - s) * cores)
            )
        files, size = workload.written
        sources = (files, size, size / workload.input_bytes)
    else:
        sources = (0, 0, 0.0)

    med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    mb = 2**20
    return {
        "session.start_s": (session_s, "s"),
        "plans.build_s": (med([sum(op.build_s for op in ops) for ops in passes]), "s"),
        "plans.exec_s": (med([sum(op.exec_s for op in ops) for ops in passes]), "s"),
        "plans.build_jobs": ((all_jobs - exec_jobs) / n, "count"),
        "plans.exec_jobs": (exec_jobs / n, "count"),
        "plans.persisted_mb": (med(persisted), "MB"),
        "operators.star.ingest_s": (med(ingest), "s"),
        "operators.star.dims_s": (med(dims), "s"),
        "operators.star.fact_s": (med(fact), "s"),
        "operators.star.ingest_core_util": (med(ingest_util), "ratio"),
        "sources.files_written": (sources[0], "count"),
        "sources.bytes_written": (sources[1], "bytes"),
        "sources.bytes_per_input_byte": (sources[2], "ratio"),
        "spark.jobs": (work.jobs / n, "count"),
        "spark.stages": (work.stages / n, "count"),
        "spark.tasks": (work.tasks / n, "count"),
        "spark.task_s": (work.task_ms / 1000 / n, "s"),
        "spark.core_util": (work.task_ms / max(1, phase_ms * cores), "ratio"),
        "spark.driver_idle_s": (idle_ms / 1000 / n, "s"),
        "spark.shuffle_read_mb": (work.shuffle_read_bytes / mb / n, "MB"),
        "spark.shuffle_write_mb": (work.shuffle_write_bytes / mb / n, "MB"),
        "spark.spill_mb": (work.spill_bytes / mb / n, "MB"),
        "spark.gc_s": (work.gc_ms / 1000 / n, "s"),
        "spark.failed_tasks": (sum(g.failed_tasks for g in groups.values()), "count"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "trace.pass_s": (median_pass_s(passes), "s"),
    }


def run(args: argparse.Namespace, work: str) -> dict:
    workload = WORKLOADS[args.workload]()
    cores = host_cores()
    t = clock.now()
    spark = start_session(work, bool(args.trace))
    session_s = clock.now() - t
    try:
        ctx = Context(spark=spark, work=work, seed=args.seed, trace=bool(args.trace))
        workload.prepare(ctx)
        checks = workload.warm_up(ctx)
        setup_s = clock.now() - _PROCESS_START
        print(f"perfbench: setup {setup_s:.2f} s (session {session_s:.2f} s)", file=sys.stderr)

        passes, persisted, stolen = [], [], []
        window_start = time.time()
        deadline = time.perf_counter() + args.seconds
        while len(passes) < workload.min_passes or time.perf_counter() < deadline:
            # Start every pass from a collected heap on both sides, so a
            # collection owed to earlier work does not land inside it.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            t, (busy, steal) = time.perf_counter(), clock.cpu_ticks()
            passes.append(workload.run_pass(ctx))
            wall = time.perf_counter() - t
            busy2, steal2 = clock.cpu_ticks()
            stolen.append((steal2 - steal) / max(1, busy2 - busy + steal2 - steal))
            if args.trace and isinstance(workload, RegistryWorkload):
                persisted.append(workload.persisted_mb(ctx))
            print(
                f"perfbench: pass {len(passes)} "
                f"{sum(op.wall_s for op in passes[-1]):.3f} s "
                f"(whole pass {wall:.3f} s on the wall clock, {stolen[-1]:.0%} stolen)",
                file=sys.stderr,
            )
        window = (window_start, time.time())
        rss_mb = jvm_peak_rss_mb(spark) if args.trace else 0.0
    finally:
        stop_session(spark)

    ops = [op for p in passes for op in p]
    attempted = len(checks) + len(ops)
    failed = checks.count(False) + sum(not op.ok for op in ops)
    if args.trace:
        metrics = per_layer(ctx, workload, passes, window, session_s, rss_mb, persisted, cores)
        metrics["host.steal_frac"] = (statistics.median(stolen), "ratio")
    else:
        metrics = end_to_end(setup_s, passes, attempted, failed)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_all(args: argparse.Namespace) -> dict:
    """Every workload in its own child process (a Python process starts its
    Spark JVM only once), summed into one result."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name]
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        result = json.loads(out.splitlines()[-1])
        print(f"perfbench: {name} {json.dumps(result)}", file=sys.stderr)
        total["correct"] = total["correct"] and result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        for metric, value in result["metrics"].items():
            total["metrics"][f"{name}.{metric}"] = value
    return total


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [
        p
        for p in ("songs_etl_spark/__init__.py", "tools/oracle_check.py")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(
            f"perfbench: run from the repository root; missing {', '.join(missing)}",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        print(json.dumps(run_all(args)))
        return 0
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every file Python, PySpark and the JVM write inside the checkout;
    # -XX:-UsePerfData (here for Spark's launcher JVM, in the session conf for
    # the driver JVM) stops HotSpot writing its perf-data file under /tmp.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [root, os.path.join(root, "tools")]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
