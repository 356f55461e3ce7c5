"""Benchmark of the CDC stream processor: one workload, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: stream_paced, batch_mix (see
perfbench/README.md). Inputs are generated from ``--seed``
under ``.perfbench_run/`` and deleted at exit. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Failure causes and the run record go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

_PIPES = ("fraud", "high_value", "balance", "dormancy", "daily_spend")
_STREAM = {"batches": "count", "trigger_p50_ms": "ms", "plan_ms": "ms", "log_ms": "ms",
           "source_ms": "ms", "exec_ms": "ms", "state_rows": "count", "state_mb": "MiB",
           "state_commit_ms": "ms", "late_rows": "count", "out_rows": "count"}
PER_LAYER = {
    "failed_frac": "ratio",
    "host.foreign_procs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.gc_s": "s", "spark.driver_share": "ratio", "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB", "spark.spill_mb": "MiB",
    "python.sent_mb": "MiB", "python.recv_mb": "MiB",
    "plan.build_s": "s", "plan.exec_s": "s", "plan.exchanges": "count",
    "memo.calls": "count", "memo.builds": "count", "memo.hit_ratio": "ratio",
    "memo.build_s": "s",
    "cache.rdds_left": "count", "cache.mb_left": "MiB",
    **{f"stream.{p}.{k}": u for p in _PIPES for k, u in _STREAM.items()},
    "stream.watermark_lag_ms_max": "ms",
    "stream.all_committed_p50_ms": "ms", "stream.all_committed_p90_ms": "ms",
    "stream.drain_s": "s", "stream.drain_rows_per_s": "rows/s",
    "source.backlog_files_max": "count", "source.backlog_files_end": "count",
    "gen.late_ms_p99": "ms",
    "layer.read_s": "s", "layer.parse_s": "s",
    **{f"layer.op.{p}_s": "s" for p in _PIPES},
    "layer.render_s": "s",
    "trace.overhead_frac": "ratio",
}
STAGE_REPEATS = 3


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    """A sixth of the machine's RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return max(1024, min(4096, kb // 1024 // 6))


def configure_env(work: str) -> None:
    """Process settings the JVM and the Python workers inherit; must run
    before pyspark is imported."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_DRIVER_MEMORY": f"{_heap_mb()}m",
        # workers import the package (the balance fold) from the repo root
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, name: str):
    from cdc_stream_processor_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(f"perfbench-{name}", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # keep every job, stage and SQL execution of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every child process to exit."""
    import probe
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    me = os.getpid()
    deadline = time.time() + 20
    while True:
        left = [p for p in probe.process_tree(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def make_workload(name: str, spark, work: str, seed: int, seconds: float, tracer,
                  scale: float):
    import batchmix
    import streams

    cls = {"stream_paced": streams.StreamPaced, "batch_mix": batchmix.BatchMix}[name]
    return cls(spark, work, seed, seconds, tracer, scale)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_paced", "batch_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs 0.1)")
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "cdc_stream_processor_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"program not found under {ROOT}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(RUN_DIR, run_id)
    configure_env(work)
    import probe

    tracer = probe.Tracer(bool(args.trace), run_id)
    foreign = probe.foreign_spark_processes()
    spark = None
    try:
        with probe.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, args.workload)
            session_s = time.perf_counter() - t0
            wl = make_workload(args.workload, spark, work, args.seed, args.seconds, tracer,
                               args.scale)
            stage_s = []
            for _ in range(STAGE_REPEATS):
                t = time.perf_counter()
                wl.stage()
                stage_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.setup()
            warm_s = time.perf_counter() - t
            if tracer.enabled:
                # engine counters from here to the end of the measured work
                with tracer.hook():
                    wl.reader = probe.StatusReader(spark)
                    wl.reader.delta()
            t = time.perf_counter()
            e2e = wl.run()
            run_s = time.perf_counter() - t
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = session_s + probe.median(stage_s) + warm_s
    e2e["peak_rss_mb"] = rss.peak_mb
    failed = sum(wl.failures.values())
    record = {"run": run_id, "foreign_spark_processes": foreign,
              "cpus": _cpus(), "heap_mb": _heap_mb(), "units": wl.units,
              "latency_samples": getattr(wl, "samples", None),
              "later_passes_s": getattr(wl, "warm_passes", None),
              "query_s": getattr(wl, "query_s", None),
              "latency_halves_ms": getattr(wl, "latency_halves_ms", None),
              "session_s": session_s, "stage_s": stage_s, "warm_s": warm_s,
              "failures": dict(wl.failures)}
    print("run record: " + json.dumps(record), file=sys.stderr)
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(wl.layer)
        layer["failed_frac"] = failed / wl.ops if wl.ops else 1.0
        layer["host.foreign_procs"] = float(foreign)
        layer["spark.driver_share"] = 1.0 - layer["spark.exec_run_s"] / (
            e2e["wall_s"] * _cpus())
        # tracing cost against the untraced work of the same run (the
        # isolated-layer probes are extra work, not tracing cost)
        base_s = run_s - tracer.hook_s - getattr(wl, "probe_s", 0.0)
        layer["trace.overhead_frac"] = tracer.hook_s / base_s
        tracer.write(os.path.join(RUN_DIR, "traces", f"{run_id}.json"))
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": wl.ops, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
