"""Per-query profiling helper.

For each named query: builds the DataFrame, writes its
``.explain("formatted")`` plan to ``<plans-dir>/<name>_<tag>.txt`` when
--plans-tag is given (--plans-dir is then required), and times the
noop-sink execution with ``bench.measure`` after ``bench.warm_up``, cache
cleared between queries — the same methodology as bench.py, isolated to
the named queries so a change can be measured without a full sweep.

Usage: python tools/profile_query.py [--sf SF_DIR] [--runs N]
                                     [--plans-tag before|after
                                      --plans-dir DIR] query ...
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from cdc_stream_processor_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-tag", default=None)
    ap.add_argument(
        "--plans-dir",
        default=None,
        help="plan-dump directory (required with --plans-tag)",
    )
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.plans_tag and args.plans_dir is None:
        ap.error("--plans-tag needs --plans-dir")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, args.sf)

    qmap = entrymod.queries()
    for name in args.queries:
        fn = qmap[name]
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        if args.plans_tag:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.plans_tag}.txt")
            with open(out, "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"profile: {name}")
        first, best = bench.measure(spark, fn, args.sf, args.runs)
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: run1={first:.3f}s  best={best:.3f}s  runs={args.runs}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
