"""Run the benchmark over several seeds and collect the results.

    python3 perfbench/sweep.py OUT.jsonl [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Each run is a fresh ``perfbench/run.py`` process with the ``run_seconds``
of BENCHMARK.json. Every result line is appended to OUT.jsonl as
``{"workload", "seed", "trace", "result"}``; compare two such files with
``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for wl in args.workloads.split(","):
        for seed in seed_list(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "trace": args.trace,
                                    "result": result}) + "\n")
            print(f"{wl} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
