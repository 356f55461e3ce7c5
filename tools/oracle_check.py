"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value multiset (doubles compared EXACTLY via repr, matching
the external gate's exact value hash).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from cdc_stream_processor_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact compare (shortest round-trip repr) — the external gate hashes
        # exact values, so any local tolerance here would mask a gate failure
        return repr(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return str(v)


def row_key(row, cols_order):
    return tuple(norm(row[i]) for i in cols_order)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            # The external gate canonicalizes via pandas factorize, which
            # cannot hash list/dict cells — any Array/Map/Struct output
            # column is a guaranteed gate error (seen: user_segments,
            # pq_codes in r4).  Same class of tripwire as the HUGEINT one.
            nested = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if nested:
                print(
                    f"FAIL {name}: Spark output has nested column(s) "
                    f"{nested} — serialize (array_join/concat_ws) for the gate"
                )
                failures += 1
                continue
            srows = sdf.collect()
            spark.catalog.clearCache()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            # The external gate hashes DuckDB's native output; HUGEINT
            # (int128) columns stringify differently there than Spark's
            # BIGINT, so any HUGEINT in an oracle is a latent hash fail.
            desc = con.execute(f"DESCRIBE ({oracles[name]})").fetchall()
            huge = [r[0] for r in desc if "HUGEINT" in str(r[1]).upper()]
            if huge:
                print(f"FAIL {name}: oracle emits HUGEINT column(s) {huge} — add ::BIGINT casts")
                failures += 1
                continue
            ddf = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        dcols = sorted(ddf.column_names)
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            print(f"FAIL {name}: columns differ spark={scols} duck={dcols}")
            failures += 1
            continue
        s_order = [sdf.columns.index(c) for c in scols]
        s_multiset = Counter(row_key(r, s_order) for r in srows)
        drows = ddf.to_pylist()
        d_multiset = Counter(
            tuple(norm(r[c]) for c in dcols) for r in drows
        )
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures += 1
            continue
        if s_multiset != d_multiset:
            diff_s = list((s_multiset - d_multiset).items())[:3]
            diff_d = list((d_multiset - s_multiset).items())[:3]
            print(f"FAIL {name}: values differ; spark-only={diff_s} duck-only={diff_d}")
            failures += 1
            continue
        print(f"PASS {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
