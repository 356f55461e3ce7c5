"""Smoke test of the benchmark.

    python3 perfbench/smoke.py

1. The generator is deterministic: the same seed gives byte-identical files.
2. Its envelopes parse to the same transactions and balances as the
   program's own mapping, ``cdc_sim.transaction_envelopes_from_events``
   followed by ``cdc_sim.with_synthetic_ledger``.
3. Each workload runs once per trace mode at ``--scale 0.1`` (sf0.001 row
   counts for batch_mix), reports ``correct``, and prints every metric of
   BENCHMARK.json with its unit; on the stream all five pipelines emit and
   the balance fold holds state.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench_run", "smoke")


def fail(msg: str) -> None:
    print(f"FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def check_determinism() -> None:
    import numpy as np

    import gen

    digests = []
    for i in range(2):
        out = os.path.join(WORK_DIR, f"det{i}")
        gen.write_batch_tables(np.random.default_rng([7, 5]), 0.1, out)
        digests.append(digest_dir(out))
    if digests[0] != digests[1]:
        fail("same seed gave different batch tables")
    print("ok   generator is deterministic")


def check_mapping() -> None:
    """Generated envelopes == the program's cdc_sim mapping + ledger."""
    import numpy as np
    from pyspark.sql import functions as F

    import gen
    import run
    from cdc_stream_processor_spark import cdc, schemas
    from cdc_stream_processor_spark.sources import cdc_sim

    work = os.path.join(WORK_DIR, "mapping")
    spark = run.start_session(work, "smoke")
    try:
        ev = gen.events(np.random.default_rng(3), 3000, 40, 10)
        gen.write_table(ev, os.path.join(work, "events.parquet"))
        env = gen.envelopes(ev, gen.envelope_schema())
        gen.write_table(env, os.path.join(work, "env", "part-0.parquet"))
        events = spark.read.parquet(os.path.join(work, "events.parquet")) \
            .withColumn("ts", F.col("ts").cast("timestamp"))
        ref = cdc_sim.with_synthetic_ledger(
            cdc.parse_transactions(cdc_sim.transaction_envelopes_from_events(events)))
        got = cdc.parse_transactions(
            spark.read.schema(schemas.TRANSACTION_ENVELOPE).parquet(os.path.join(work, "env")))
        cols = sorted(got.columns)
        diff = got.select(cols).exceptAll(ref.select(cols)).count() + \
            ref.select(cols).exceptAll(got.select(cols)).count()
        if diff or got.count() == 0:
            fail(f"generated envelopes differ from cdc_sim + ledger in {diff} rows")
    finally:
        run.shutdown(spark)
    print("ok   envelopes match cdc_sim mapping and with_synthetic_ledger")


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        for wl in (w["name"] for w in bench["workloads"]):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--scale", "0.1"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                  timeout=300)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                fail(f"{wl} trace={trace}: exit {proc.returncode}")
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{wl}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{wl} trace={trace}: {res['failed']}/{res['attempted']} failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{wl} trace={trace}: metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(want) - set(got))}, "
                     f"extra {sorted(set(got) - set(want))}")
            values = {k: v["value"] for k, v in res["metrics"].items()}
            if trace == 0 and min(values.values()) <= 0:
                fail(f"{wl}: an end-to-end metric is not positive")
            if trace == 1 and wl == "stream_paced":
                empty = [p for p in ("fraud", "high_value", "balance", "dormancy",
                                     "daily_spend") if values[f"stream.{p}.out_rows"] <= 0]
                if empty or values["stream.balance.state_rows"] <= 0:
                    fail(f"pipelines without output {empty} or empty balance state")
            print(f"ok   {wl} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations")


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import run

    run.configure_env(os.path.join(WORK_DIR, "env"))
    try:
        check_determinism()
        check_mapping()
        check_runs()
    finally:
        shutil.rmtree(WORK_DIR, ignore_errors=True)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
