"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Inputs are files written by ``perfbench/sweep.py``. For every workload
and end-to-end metric it prints each side's median and quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread, the quartile
distance as a share of the median. With two files it also prints the
change of the median against the BENCHMARK.json bound:

- ``regressed``: worse by more than the bound;
- ``within``: no worse than the bound allows;
- ``unresolved``: either side's spread is wider than the bound, unless every
  run of the change reads better than every base run (then ``improved``).

With one file it checks steadiness: a spread above the bound fails, one
above a third of the bound is flagged. ``setup_s`` is exempt from the
spread test. The exit code is 1 when any metric regressed or failed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            for name, m in rec["result"]["metrics"].items():
                out.setdefault((rec["workload"], name), []).append(float(m["value"]))
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    base = load(argv[0])
    change = load(argv[1]) if len(argv) == 2 else None
    bad = False
    for wl in (w["name"] for w in bench["workloads"]):
        print(f"== {wl}")
        for name, m in metrics.items():
            a = base.get((wl, name))
            if not a:
                print(f"  {name:16s} no samples")
                continue
            amed, aq1, aq3, asp = summary(a)
            line = (f"  {name:16s} base {amed:12.4f} [{aq1:.4f}, {aq3:.4f}] "
                    f"spread {asp:6.1%} n={len(a)}")
            if change is None:
                verdict = "ok"
                if name != "setup_s" and asp > m["bound"]:
                    verdict, bad = "FAIL spread > bound", True
                elif name != "setup_s" and asp > m["bound"] / 3:
                    verdict = "flag spread > bound/3"
                print(f"{line}  bound {m['bound']:.0%}  {verdict}")
                continue
            b = change.get((wl, name))
            if not b:
                print(f"{line}  change: no samples")
                continue
            bmed, bq1, bq3, bsp = summary(b)
            lower = m["better"] == "lower"
            worse = (bmed - amed) / amed if lower else (amed - bmed) / amed
            all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
            if all_better:
                verdict = "improved"
            elif max(asp, bsp) > m["bound"] and name != "setup_s":
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict, bad = "regressed", True
            else:
                verdict = "within"
            print(f"{line}\n  {'':16s} chng {bmed:12.4f} [{bq1:.4f}, {bq3:.4f}] "
                  f"spread {bsp:6.1%} n={len(b)}  worse by {worse:+.1%} "
                  f"(bound {m['bound']:.0%})  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
