"""Rotation-window report: what the driver's 50-query correctness gate
will check next round, and how stale every other green is.

The registry (``__spark_entry__.queries()``) is emitted in rotation order
— never-green names first, then ascending last-green round — and the
driver verifies the FIRST 50 entries per round. Every round's planning
starts with the same questions, so this prints them:

- the window's composition (which names, which age cohort each is from),
- the age histogram of the whole registry (how much backlog each future
  round must retire),
- how many free slots a new query would consume.

Usage: ``python tools/rotation_report.py [--window N]`` (default 50).
Reads only committed CORRECTNESS_r*.json files — no Spark session.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BASE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--window", type=int, default=50, help="driver gate size")
    args = ap.parse_args()

    import __spark_entry__ as entry

    greens = entry._last_green()
    newest = max(greens.values(), default=-1)
    names = list(entry.queries())  # rotation order

    def age(n: str) -> int:
        return greens.get(n, -1)  # -1: never green

    window = names[: args.window]
    rest = names[args.window:]

    print(f"registry: {len(names)} queries, newest green round r{newest}")
    print(f"\nnext driver window ({len(window)} slots):")
    for cohort, cnt in sorted(Counter(age(n) for n in window).items()):
        label = "never-green" if cohort < 0 else f"last green r{cohort}"
        print(f"  {cnt:3d} × {label}")
    print("  " + ", ".join(window[:8]) + (", …" if len(window) > 8 else ""))

    print(f"\nbacklog beyond the window ({len(rest)} queries):")
    for cohort, cnt in sorted(Counter(age(n) for n in rest).items()):
        label = "never-green" if cohort < 0 else f"last green r{cohort}"
        print(f"  {cnt:3d} × {label}")

    if window:
        oldest_in_window = min(age(n) for n in window)
        slack = sum(1 for n in window if age(n) > oldest_in_window)
        label = (
            "never-green"
            if oldest_in_window < 0
            else f"r{oldest_in_window}"
        )
        print(
            f"\nslack: {slack} — new queries before the {label} cohort"
            " loses a window slot"
        )
    never = [n for n in names if greens.get(n, -1) < 0]
    if never:
        print(f"\nnever-green queries ({len(never)}): {', '.join(never)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
