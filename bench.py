"""Benchmark harness: times every driver-contract query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 testdata directory) on local[$SPARK_GRAFT_CPUS].

Each query is timed by ``measure()``: best-of-N consecutive runs
($SPARK_GRAFT_BENCH_RUNS, default 2), every run memo-cold, materialized
through the noop sink (full execution, no driver collect cost).

stdout carries two JSON lines. The first is
{"metric", "value", "unit", "queries", "sf"} with per-query best-of-N
seconds. The last is a compact summary under 2000 chars, so it survives a
2000-char stdout tail; it carries ``value`` (best-of-N total) and
``value_run1`` (first-run total). The full record, with per-query run-1
timings and the run config, is written to ``bench_full.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from cdc_stream_processor_spark.operators import memo  # noqa: E402
from cdc_stream_processor_spark.session import get_spark  # noqa: E402

FULL_RECORD = "bench_full.json"


def warm_up(spark, sf_dir: str) -> None:
    """Absorb one-time JVM/codegen/Arrow/parquet-footer/Python-runner init
    so per-query timings measure the plans, not session startup."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    _wu = pandas_udf(lambda v: v * 1.0, "double")

    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{sf_dir}/region.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    warm = spark.range(100).select(
        F.col("id"), _wu(F.col("id").cast("double")).alias("x")
    )
    warm.mapInPandas(lambda it: it, schema="id long, x double").write.format(
        "noop"
    ).mode("overwrite").save()


def measure(spark, fn, sf_dir: str, runs: int) -> tuple[float, float]:
    """(run-1 seconds, best-of-``runs`` seconds) for ``fn(spark, sf_dir)``.

    The runs are CONSECUTIVE: run 2 executes with run 1's JIT/codegen state
    hot, so the min reports the plan's JIT-warm cost. (An interleaved-rounds
    variant was measured WORSE: by round 2 the JIT caches of early queries
    have been churned through 100+ other plans, so neither round is warm.)
    The process memo is emptied before every run, so a memoized kernel
    (kNN graph, IVF, LSH, LPA) is rebuilt inside each timed region and
    best-of-N is as memo-cold as run 1."""
    times = []
    for _ in range(runs):
        memo._MEMO.clear()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return times[0], min(times)


def _compact_summary(record: dict, ambient: list[str]) -> dict:
    """The LAST-stdout-line summary: compact standalone JSON (<2000 chars
    serialized) sized to survive a 2000-char stdout-tail capture, where
    the first line, carrying every query's timing, always truncates."""
    return {
        "metric": record["metric"],
        "value": record["value"],
        "value_run1": record["value_run1"],
        "unit": "sec",
        "sf": record["sf"],
        "n_queries": len(record["queries"]),
        "runs": record["config"]["runs"],
        "ambient": len(ambient),
        "ambient_foreign": sum(1 for a in ambient if "foreign" in a),
        "full_record": FULL_RECORD,
    }


def _quiesce_check() -> list[str]:
    """Scan /proc for OTHER live JVM / Spark-Python processes at bench
    start. Ambient load is the #1 source of spurious per-query slowdowns,
    so the record carries the evidence: an empty list means the box was
    quiet; a non-empty one means the numbers may be inflated.

    Only the pid and the load class that matched are recorded — never
    the command line or executable name: cmdlines of unrelated
    processes (a CI wrapper, an editor helper) can embed arbitrary
    environment/tooling detail that has no place in a recorded
    artifact, and the load evidence needs only count + kind.

    Each entry also carries an ``own-tree``/``foreign`` marker derived
    from the ppid chain: a matched process whose ancestor
    chain (including itself) passes through this process's own ancestor
    chain is the harness's wrapper/supervisor stack — expected, idle,
    and not competing load — while ``foreign`` means a process tree this
    run did not inherit (a genuinely concurrent job). This keeps the
    "quiet box" claim verifiable without recording cmdlines."""

    def _ppid_chain(pid: int) -> list[int]:
        """pid plus its ancestors up to (excluding) pid 1 / a read error."""
        chain, cur, hops = [pid], pid, 0
        while cur > 1 and hops < 64:
            try:
                with open(f"/proc/{cur}/stat") as f:
                    stat = f.read()
                # field 4 (ppid) sits after the parenthesised comm, which
                # may itself contain spaces — split after the LAST ')'
                cur = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                break
            hops += 1
            if cur > 1:
                chain.append(cur)
        return chain

    me = os.getpid()
    # everything above me except init: intersecting this = same tree
    my_ancestry = set(_ppid_chain(me))
    others: list[str] = []
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return []
    for pid in pids:
        if int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        low = cmd.lower()
        if "java" in low:
            kind = "jvm"
        elif "pyspark" in low or (
            "python" in low and ("spark" in low or "bench" in low)
        ):
            kind = "spark-python"
        else:
            continue
        own = bool(set(_ppid_chain(int(pid))) & my_ancestry)
        others.append(
            f"pid {pid}: ({kind}, {'own-tree' if own else 'foreign'})"
        )
    return others


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    ambient = _quiesce_check()
    if ambient:
        print(
            f"WARNING: {len(ambient)} other JVM/Spark processes alive at "
            "bench start — timings may carry ambient load:\n  "
            + "\n  ".join(ambient),
            file=sys.stderr,
        )
    # 99 back-to-back queries on an 8g heap spend measurable time in GC by the
    # back half of the run (balance_recon: 2.5s in-sequence vs 0.75s alone);
    # the bench box has 128 GiB, so give the single local JVM a real heap.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    run1s: dict[str, float] = {}
    # NAME order, not registry order: the registry is emitted in rotation
    # order, which moves as verdicts land, and a changing run order changes
    # each query's GC/codegen-cache neighborhood — measured ±2× swings on
    # latency-bound queries. Sorted order keeps run-to-run timings
    # comparable.
    for name, fn in sorted(entrymod.queries().items()):
        first, best = measure(spark, fn, sf_dir, runs)
        timings[name] = round(best, 3)
        run1s[name] = round(first, 3)
        # operators persist() intermediates (LSH blocks, shingle indexes);
        # drop them between queries so accumulated caches don't build
        # executor-memory pressure that taxes later queries
        spark.catalog.clearCache()
    record = {
        "metric": "engine_total_query_time",
        "value": round(sum(timings.values()), 3),
        "value_run1": round(sum(run1s.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_run1": run1s,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "config": {
            "runs": runs,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", ""),
            "sf_dir": sf_dir,
            "n_queries": len(timings),
            # [] == quiet box at start; non-empty == ambient load evidence
            "ambient_processes_at_start": ambient,
        },
    }
    base = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(base, FULL_RECORD), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout still carries the result
    print(
        json.dumps(
            {k: record[k] for k in ("metric", "value", "unit", "queries", "sf")}
        )
    )
    # LAST stdout line: compact standalone JSON — see _compact_summary.
    print(json.dumps(_compact_summary(record, ambient)))


if __name__ == "__main__":
    main()
