"""Planning tools (no Spark): the rotation-window report that each round's
window-composition math is read from before any query surface changes."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

import rotation_report  # noqa: E402


def test_last_green_matches_rotation_rule():
    """The report's window is read from the committed CORRECTNESS records
    through ``_last_green()``; the rotation order it yields is checked in
    tests/test_plans.py::test_registry_rotation_prioritizes_unverified_queries."""
    import __spark_entry__ as entry

    greens = entry._last_green()
    assert greens  # committed records exist
    assert max(greens.values()) >= 9


def test_report_prints_window_and_slack(capsys, monkeypatch):
    monkeypatch.setattr(sys, "argv", ["rotation_report.py", "--window", "50"])
    assert rotation_report.main() == 0
    out = capsys.readouterr().out
    assert "next driver window (50 slots):" in out
    assert "slack:" in out
    assert "backlog beyond the window" in out


def test_degenerate_stress_fixture_builds_and_loads(spark, tmp_path):
    """The stress tool's fixture must carry every driver table with the
    production schemas (load_table normalizes them) and the degenerate
    rows it advertises — empty/NULL texts and a ragged embedding."""
    import tools.degenerate_stress as DS
    from cdc_stream_processor_spark.sources.batch import TABLES, load_table

    DS.build_fixture(str(tmp_path), ragged_embeddings=True)
    for t in TABLES:
        assert load_table(spark, str(tmp_path), t).count() >= 2, t
    docs = load_table(spark, str(tmp_path), "documents")
    texts = [r.text for r in docs.collect()]
    assert "" in texts and None in texts
    emb = load_table(spark, str(tmp_path), "embeddings")
    sizes = {len(r.embedding) for r in emb.collect()}
    assert 0 in sizes and 4 in sizes  # ragged: the kernel-contract probe
    # the contract allowlist only names registered queries
    import __spark_entry__ as entrymod

    assert DS.RAGGED_CONTRACT <= set(entrymod.queries())


def test_unicode_stress_fixture_builds_and_loads(spark, tmp_path):
    """The --unicode stress fixture must carry every driver table (well-
    formed shapes), adversarial text rows (astral ZWJ emoji, zero-width
    chars, control chars incl. NUL, and the base64 mega-token), and
    fixed-dim embeddings (only the TEXT paths are under stress)."""
    import tools.degenerate_stress as DS
    from cdc_stream_processor_spark.sources.batch import TABLES, load_table

    DS.build_unicode_fixture(str(tmp_path))
    for t in TABLES:
        assert load_table(spark, str(tmp_path), t).count() >= 2, t
    texts = [
        r.text
        for r in load_table(spark, str(tmp_path), "documents").collect()
    ]
    assert any("‍" in t for t in texts)  # ZWJ
    assert any("\x00" in t for t in texts)  # NUL survives parquet+Spark
    assert any(
        max((len(w) for w in t.split()), default=0) >= 1000 for t in texts
    )  # the mega-token
    sizes = {
        len(r.embedding)
        for r in load_table(spark, str(tmp_path), "embeddings").collect()
    }
    assert sizes == {4}  # fixed-dim: text paths only


def test_typo_pairs_mega_token_bounded(spark, tmp_path):
    """Regression for the --unicode stress find: ONE pathological
    mega-token (base64 blob) must not explode the FastSS deletion
    neighborhood — the TYPO_MAX_TOKEN_LEN candidacy cap excludes it on
    both engine sides, the query completes, and typo pairs among normal
    words are still found."""
    import duckdb

    import __spark_entry__ as E
    import pyarrow as pa
    import pyarrow.parquet as pq

    blob = "QUJDREVGR0hJSktMTU5PUFFSU1RVVldYWVo0NTY3ODkrLw==" * 40
    rows = {
        "doc_id": [1, 2, 3],
        "text": [f"walked {blob} walker", "walked walked", "walker talked"],
        "lang": ["en"] * 3,
        "source": ["s1"] * 3,
        "n_chars": [len(blob) + 14, 13, 13],
    }
    pq.write_table(
        pa.table(
            rows,
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()),
                 ("lang", pa.string()), ("source", pa.string()),
                 ("n_chars", pa.int64())]
            ),
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = sorted(
        (r.tok_a, r.tok_b, r.dist, r.n_a, r.n_b)
        for r in E.queries()["typo_pairs"](spark, str(tmp_path)).collect()
    )
    assert all(len(a) <= 24 and len(b) <= 24 for a, b, *_ in got)
    assert ("talked", "walked", 1, 1, 3) in got or (
        "talked", "walked", 1, 3, 1) in got
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(con.sql(E.oracle_sql()["typo_pairs"]).fetchall())
    assert got == [tuple(w) for w in want]


def test_numeric_stress_fixture_builds_and_loads(spark, tmp_path):
    """The --numeric stress fixture must carry every driver table with
    well-formed shapes/texts and IEEE pathology in the NUMERIC columns:
    NaN / +-Inf / -0.0 / denormal / huge magnitudes in events.value and
    non-finite components in fixed-dim embeddings."""
    import math

    import tools.degenerate_stress as DS
    from cdc_stream_processor_spark.sources.batch import TABLES, load_table

    DS.build_numeric_fixture(str(tmp_path))
    for t in TABLES:
        assert load_table(spark, str(tmp_path), t).count() >= 2, t
    vals = [
        r.value
        for r in load_table(spark, str(tmp_path), "events").collect()
    ]
    assert any(math.isnan(v) for v in vals)
    assert float("inf") in vals and float("-inf") in vals
    assert any(v != 0 and abs(v) < 1e-300 for v in vals)  # denormal
    assert any(v == 0 and math.copysign(1.0, v) < 0 for v in vals)  # -0.0
    embs = [
        list(r.embedding)
        for r in load_table(spark, str(tmp_path), "embeddings").collect()
    ]
    assert {len(e) for e in embs} == {4}  # fixed-dim: numeric paths only
    flat = [x for e in embs for x in e]
    assert any(math.isnan(x) for x in flat) and float("inf") in flat
    # r12: the fixture must also produce ZERO GROUP AGGREGATES (per-row
    # NaN/Inf can never make a group SUM exactly 0, which is why the
    # revenue_mom_growth class escaped it): an all-zero-price month with
    # a later nonzero month (the zero-lag divisor shape), an all-zero
    # lineitem flag group, and an all-zero events value group.
    from collections import defaultdict

    by_month = defaultdict(list)
    for r in load_table(spark, str(tmp_path), "orders").collect():
        by_month[(r.o_orderdate.year, r.o_orderdate.month)].append(
            r.o_totalprice
        )
    zero_months = [
        m for m, ps in by_month.items()
        if ps and all(p == 0.0 for p in ps)
    ]
    assert zero_months and max(by_month) > min(zero_months)
    li = load_table(spark, str(tmp_path), "lineitem").collect()
    zero_flag = [
        r for r in li if (r.l_returnflag, r.l_linestatus) == ("R", "O")
    ]
    assert zero_flag and all(
        r.l_quantity == 0.0 and r.l_extendedprice == 0.0 for r in zero_flag
    )
    by_user = defaultdict(list)
    for r in load_table(spark, str(tmp_path), "events").collect():
        by_user[r.user_id].append(r.value)
    assert any(
        vs and all(v == 0.0 for v in vs) for vs in by_user.values()
    )
    import __spark_entry__ as entrymod

    assert DS.NUMERIC_CONTRACT <= set(entrymod.queries())


def test_temporal_stress_fixture_builds_and_loads(spark, tmp_path):
    """The --temporal stress fixture must carry pathological timestamps
    in every timestamp column: epoch 0, pre-1970, the pandas ns ceiling,
    a row PAST it, year 9999, and the proleptic minimum — asserted on
    the epoch-us grid (the fixture's own rows cannot round-trip through
    collect(), which is the very hazard the fixture exists to probe)."""
    import tools.degenerate_stress as DS
    from pyspark.sql import functions as F
    from cdc_stream_processor_spark.operators.profiling import (
        TS_PANDAS_NS_HI_US,
    )
    from cdc_stream_processor_spark.sources.batch import TABLES, load_table

    DS.build_temporal_fixture(str(tmp_path))
    for t in TABLES:
        assert load_table(spark, str(tmp_path), t).count() >= 2, t
    for tbl, col in (
        ("events", "ts"), ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    ):
        us = [
            r.us
            for r in load_table(spark, str(tmp_path), tbl)
            .select(F.unix_micros(F.col(col)).alias("us"))
            .collect()
        ]
        assert 0 in us, (tbl, "epoch 0")
        assert any(u < 0 for u in us), (tbl, "pre-epoch")
        assert any(u > TS_PANDAS_NS_HI_US for u in us), (tbl, "past ns")
    import __spark_entry__ as entrymod

    assert DS.TEMPORAL_CONTRACT <= set(entrymod.queries())


def test_timestamp_health_audit_flags_each_class(spark, tmp_path):
    """The new audit must FLAG exactly the pathology classes the temporal
    fixture plants — and, load-bearingly, must itself collect() fine over
    rows PySpark's row deserializer cannot materialize (epoch-us BIGINT
    output only)."""
    import tools.degenerate_stress as DS
    import __spark_entry__ as E

    DS.build_temporal_fixture(str(tmp_path))
    rows = {
        r.src: r
        for r in E.queries()["timestamp_health_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    ev = rows["events.ts"]
    assert ev.n_rows == 6 and ev.n_null == 0
    assert ev.n_pre_sane == 2  # 1865 + year 1
    assert ev.n_post_sane == 3  # 2262, 2300, 9999
    assert ev.n_outside_pandas_ns == 3  # 2300, 9999, year 1
    assert ev.min_epoch_us < 0 < ev.max_epoch_us


def test_timestamp_health_audit_rejects_empty_tables():
    """Public API: an empty audit spec is a caller error and must say so
    (ValueError), not die with a bare IndexError on parts[0]."""
    import pytest

    from cdc_stream_processor_spark.operators import profiling as PF

    with pytest.raises(ValueError, match="non-empty"):
        PF.timestamp_health_audit([])


def test_ewma_day_bucket_boundary_parity(spark, tmp_path):
    """Regression for the --temporal divergence find: ewma_event_rate's
    day bucket must use exact int64 division. The old
    floor(us / 86400e6) DOUBLE path put (a) pre-epoch rows one day early
    (floor vs truncating int division on negatives) and (b) rows within
    ~0.15 ms of midnight one day late (the quotient rounds up across the
    integer boundary). Plants both hazards inside python-datetime range
    so BOTH engines can materialize, and asserts bucket parity."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    day2 = dt.datetime(2025, 1, 3)
    rows = {
        "event_id": [1, 2, 3, 4],
        "ts": [
            day2 - dt.timedelta(microseconds=1),   # 1 us before midnight
            day2,                                  # midnight exactly
            dt.datetime(1965, 6, 1, 12, 0, 0),     # pre-epoch, negative us
            dt.datetime(2025, 1, 5, 8, 0, 0),
        ],
        "user_id": [1, 1, 2, 2],
        "event_type": ["view"] * 4,
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": ["{}"] * 4,
    }
    pq.write_table(
        pa.table(rows, schema=pa.schema(
            [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
             ("user_id", pa.int64()), ("event_type", pa.string()),
             ("value", pa.float64()), ("props", pa.string())]
        )),
        str(tmp_path / "events.parquet"),
    )
    got = sorted(
        (r.event_type, r.day_idx, r.n_events)
        for r in E.queries()["ewma_event_rate"](
            spark, str(tmp_path)
        ).collect()
    )
    days = sorted({d for _, d, _ in got})
    # 1 us before midnight stays in the PREVIOUS day; the pre-epoch row
    # truncates toward zero exactly like the oracle's //
    assert 20091 in days and 20090 in days  # 2025-01-02 and -03
    # 1965-06-01 12:00 is -144676800000000 us: truncating int division
    # gives -1674 (the old DOUBLE floor path gave -1675)
    assert -1674 in days
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(
        (t, d, n)
        for t, d, n, _ in con.sql(
            E.oracle_sql()["ewma_event_rate"]
        ).fetchall()
    )
    assert got == want


def test_divergence_classify_verdicts():
    """Pin the standing divergence gate's verdict semantics: symmetric
    loud failure is parity (LOUD), a one-sided error is a finding, and
    column/rowcount/multiset mismatches report in that order."""
    from collections import Counter

    import tools.divergence_stress as DV

    # both raise -> LOUD (parity)
    assert DV.classify("Boom: x", "Err: y") == ("LOUD", None)
    # one-sided error -> DIVERGE
    v, d = DV.classify("Boom: x", None)
    assert v == "DIVERGE" and "one-sided" in d
    v, d = DV.classify(None, "Err: y")
    assert v == "DIVERGE" and "one-sided" in d
    # column mismatch (case-insensitive compare)
    v, d = DV.classify(None, None, ["A", "b"], Counter(), 0,
                       ["a", "c"], Counter(), 0)
    assert v == "DIVERGE" and "columns" in d
    assert DV.classify(None, None, ["A", "b"], Counter(), 0,
                       ["a", "B"], Counter(), 0) == ("PASS", None)
    # rowcount mismatch
    v, d = DV.classify(None, None, ["a"], Counter({("1",): 1}), 1,
                       ["a"], Counter(), 0)
    assert v == "DIVERGE" and "rowcount" in d
    # value-multiset mismatch (exact-repr keys; NaN==NaN handled by norm)
    v, d = DV.classify(None, None, ["a"], Counter({("0.0",): 1}), 1,
                       ["a"], Counter({("-0.0",): 1}), 1)
    assert v == "DIVERGE" and "values" in d
    assert DV.classify(None, None, ["a"], Counter({("NaN",): 2}), 2,
                       ["a"], Counter({("NaN",): 2}), 2) == ("PASS", None)


def test_divergence_allowlists_name_registered_queries_only():
    """Every allowlist entry must name a REGISTERED query with an oracle
    — a typo'd name would silently never fire and the staleness check
    would flag it only at full-run time; pin it at unit speed."""
    import tools.divergence_stress as DV
    import __spark_entry__ as E

    with_oracle = set(E.oracle_sql())
    for mode, entries in DV.ALLOWED.items():
        unknown = set(entries) - with_oracle
        assert not unknown, (mode, unknown)
        # every entry carries a non-empty triage reason
        assert all(isinstance(r, str) and r for r in entries.values()), mode


def test_divergence_stale_allowlist_semantics():
    """Pin the staleness verdict (r11 ADVICE low): an allowlisted query
    that lands LOUD (both engines raise — e.g. a DuckDB-budget entry
    whose engine side ALSO times out on a slow host) is NOT stale;
    a PASSing allowlisted query IS; subset runs never judge staleness."""
    import tools.divergence_stress as DV

    allowed = {"a": "reason", "b": "reason", "c": "reason"}
    assert DV.stale_allowlist(allowed, ["a"], ["b"], set()) == ["c"]
    assert DV.stale_allowlist(allowed, [], ["a", "b", "c"], set()) == []
    assert DV.stale_allowlist(allowed, [], [], {"a"}) == []


def test_degenerate_stress_modes_mutually_exclusive():
    """Pin the mode-flag contract (r11 ADVICE low): two fixture flags
    together used to build one mode's fixture but apply the OTHER's
    crash contract — argparse must reject the combination outright."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/degenerate_stress.py", "--numeric",
         "--temporal"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert r.returncode == 2
    assert "not allowed with" in r.stderr


def test_nulls_stress_fixture_builds_and_loads(spark, tmp_path):
    """The --nulls stress fixture must carry every driver table with a
    NULL planted in every nullable column class: join keys (o_custkey,
    l_orderkey), group keys (user_id, lang, source), timestamps,
    money/metric doubles, text, and a whole NULL embedding row."""
    import tools.degenerate_stress as DS
    from cdc_stream_processor_spark.sources.batch import TABLES, load_table

    DS.build_nulls_fixture(str(tmp_path))
    for t in TABLES:
        assert load_table(spark, str(tmp_path), t).count() >= 2, t

    def has_null(tbl, col):
        return any(
            r[col] is None
            for r in load_table(spark, str(tmp_path), tbl).collect()
        )

    assert has_null("orders", "o_custkey")      # NULL join key
    assert has_null("orders", "o_orderdate")    # NULL timestamp
    assert has_null("orders", "o_totalprice")   # NULL money
    assert has_null("lineitem", "l_orderkey")
    assert has_null("lineitem", "l_shipdate")
    assert has_null("events", "ts")
    assert has_null("events", "user_id")        # NULL group key
    assert has_null("events", "value")
    assert has_null("events", "props")
    assert has_null("documents", "text")
    assert has_null("documents", "lang")
    assert has_null("documents", "source")
    assert has_null("embeddings", "embedding")  # NULL vector
    import __spark_entry__ as entrymod

    assert DS.NULLS_CONTRACT <= set(entrymod.queries())
