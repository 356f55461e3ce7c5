"""Heavy hitters (Misra-Gries candidates + exact recount), deterministic
stratified sampling, and retraction-stream aggregate maintenance. Oracle
parity is the DuckDB oracle gate (queries_corpus / queries QUERIES); these tests
pin the semantic guarantees and the plan shapes that hold at scale."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from cdc_stream_processor_spark import cdc
from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import frequency as FR
from cdc_stream_processor_spark.sources import batch as B


# --- heavy_hitter_tokens ------------------------------------------------------


def test_heavy_hitters_exactly_match_full_groupby(spark, sf_dir):
    """The MG pass only proposes candidates; after the exact recount the
    result must equal the brute-force full-shuffle answer exactly."""
    docs = B.load_table(spark, sf_dir, "documents")
    got = {
        (r.tok, r.cnt) for r in FR.heavy_hitter_tokens(docs).collect()
    }
    toks = docs.select(F.explode(TH.tokens(F.col("text"))).alias("tok"))
    n = toks.count()
    brute = {
        (r.tok, r.cnt)
        for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
        if r.cnt * FR.HH_K > n
    }
    assert got == brute and len(got) > 0


def test_mg_kernel_bounds_candidates_and_keeps_true_heavy_hitters():
    """Direct kernel test: vocabulary ≫ k, streamed in several batches.
    The summary must stay ≤ k entries yet retain every token whose total
    count exceeds n/k (the Misra-Gries guarantee)."""
    k = 8
    # 3 heavy tokens (100 each) buried in 300 unique singletons, n = 600
    stream = ["h0", "h1", "h2"] * 100 + [f"u{i}" for i in range(300)]
    # deterministic interleave so heavies aren't one contiguous run
    stream = [stream[i] for i in range(0, 600, 3)] + [
        stream[i] for i in range(1, 600, 3)
    ] + [stream[i] for i in range(2, 600, 3)]
    batches = (
        pd.DataFrame({"tok": stream[i : i + 50]}) for i in range(0, 600, 50)
    )
    (summary,) = list(FR._mg_candidates(k)(batches))
    assert len(summary) <= k
    assert {"h0", "h1", "h2"} <= set(summary["tok"])  # count 100 > 600/8


def test_heavy_hitters_never_shuffle_full_token_table(spark, sf_dir):
    """The only groupBy aggregation keys are the broadcast-filtered
    candidates: the aggregate must sit above a broadcast join, not above
    the raw exploded token stream."""
    docs = B.load_table(spark, sf_dir, "documents")
    plan = (
        FR.heavy_hitter_tokens(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# --- stratified_sample --------------------------------------------------------


def test_stratified_sample_k_per_stratum_and_deterministic(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    out = FR.stratified_sample(docs).collect()
    strata = {}
    for r in out:
        strata.setdefault(r.stratum, []).append(r)
        assert 1 <= r.sample_rank <= FR.STRAT_K
        assert r.sample_key == (r.doc_id * FR.STRAT_A + FR.STRAT_B) % FR.STRAT_P
    for s, rows in strata.items():
        n_stratum = docs.filter(F.col("lang") == s).count()
        assert len(rows) == min(FR.STRAT_K, n_stratum)
        assert sorted(r.sample_rank for r in rows) == list(
            range(1, len(rows) + 1)
        )
    again = sorted(
        (r.doc_id, r.sample_rank) for r in FR.stratified_sample(docs).collect()
    )
    assert again == sorted((r.doc_id, r.sample_rank) for r in out)


def test_stratified_sample_plans_window_group_limit(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    plan = (
        FR.stratified_sample(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # rank pushdown: partitions keep ≤ k rows before the final per-group sort
    assert "WindowGroupLimit" in plan


# --- retraction_aggregate -----------------------------------------------------


def test_retraction_aggregate_equals_snapshot_aggregate(spark, sf_dir):
    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    got = {
        r.event_type: (r.n_current, round(r.total_value, 4))
        for r in cdc.retraction_aggregate(
            ev, key="user_id", dim="event_type", value="value",
            order_by=["ts", "event_id"],
        ).collect()
    }
    latest = cdc.latest_by_key(
        ev.withColumn("_seq", F.struct(F.col("ts"), F.col("event_id"))),
        "user_id",
    )
    want = {
        r.event_type: (r.n_current, round(r.total_value, 4))
        for r in latest.groupBy("event_type")
        .agg(
            F.count("*").alias("n_current"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == want and sum(v[0] for v in got.values()) == latest.count()


def test_retraction_aggregate_retracts_superseded_versions(spark):
    """A key that changes dimension moves its contribution: the old
    dimension is retracted (possibly to an empty group), the new one
    gains exactly the latest value."""
    rows = [
        # user 1: a@10.0 then b@20.0  → counts: b gets (1, 20.0)
        (1, 1, "a", 10.0), (2, 1, "b", 20.0),
        # user 2: a@5.0 only          → a keeps (1, 5.0)
        (3, 2, "a", 5.0),
        # user 3: b@1.0 then b@2.0    → b gains (1, 2.0)
        (4, 3, "b", 1.0), (5, 3, "b", 2.0),
    ]
    ev = spark.createDataFrame(rows, "seq long, user_id long, dim string, value double")
    got = {
        r.dim: (r.n_current, r.total_value)
        for r in cdc.retraction_aggregate(
            ev, key="user_id", dim="dim", value="value", order_by=["seq"]
        ).collect()
    }
    assert got == {"a": (1, 5.0), "b": (2, 22.0)}


def test_retraction_aggregate_fully_retracted_dim_has_no_row(spark):
    """A dimension that is no key's LATEST state must vanish from the
    aggregate (snapshot semantics), not surface as a (dim, 0, 0.0) row —
    here every user that ever visited 'a' later moved to 'b'."""
    rows = [
        (1, 1, "a", 10.0), (2, 1, "b", 20.0),
        (3, 2, "a", 5.0), (4, 2, "b", 7.0),
    ]
    ev = spark.createDataFrame(rows, "seq long, user_id long, dim string, value double")
    got = {
        r.dim: (r.n_current, r.total_value)
        for r in cdc.retraction_aggregate(
            ev, key="user_id", dim="dim", value="value", order_by=["seq"]
        ).collect()
    }
    assert got == {"b": (2, 27.0)}


# --- table_diff ---------------------------------------------------------------


def test_table_diff_roundtrips_apply_changes(spark):
    """Replaying a changelog onto `before` must diff as exactly the applied
    changes: inserts → added, deletes → removed, updates with new values →
    changed, untouched keys → unchanged."""
    before = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, tag string, value double",
    )
    changes = spark.createDataFrame(
        [
            (5, "e", 50.0, "c", 1),   # insert      → added
            (2, None, None, "d", 2),  # delete      → removed
            (3, "c2", 31.0, "u", 3),  # real update → changed
            (4, "d", 40.0, "u", 4),   # no-op update → unchanged
        ],
        "id long, tag string, value double, op string, _seq long",
    )
    after = cdc.apply_changes(before, changes, key="id")
    got = {
        r.id: r.diff_status
        for r in cdc.table_diff(before, after, "id").collect()
    }
    assert got == {
        1: "unchanged",
        2: "removed",
        3: "changed",
        4: "unchanged",
        5: "added",
    }


def test_table_diff_null_safe_compare(spark):
    """Null payloads compare null-safely: null == null is unchanged,
    null vs value is changed."""
    a = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "id long, tag string"
    )
    b = spark.createDataFrame(
        [(1, None), (2, "y"), (3, None)], "id long, tag string"
    )
    got = {r.id: r.diff_status for r in cdc.table_diff(a, b, "id").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed"}


# --- write-audit-publish ------------------------------------------------------


def test_publish_with_audit_blocks_bad_data_and_keeps_previous(spark, tmp_path):
    """A failing audit must leave the previously published version intact
    and remove the staging dir; a passing audit swaps atomically."""
    import os

    import pytest

    from cdc_stream_processor_spark.plans import layout as L

    path = str(tmp_path / "published")
    good = spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string")
    checks = [
        ("non_empty", lambda d: d.count() > 0),
        ("no_null_ids", lambda d: d.filter("id IS NULL").count() == 0),
    ]
    assert L.publish_with_audit(good, path, checks) == {
        "non_empty": True,
        "no_null_ids": True,
    }
    v1 = sorted(r.id for r in spark.read.parquet(path).collect())

    bad = spark.createDataFrame([(None, "x")], "id long, tag string")
    with pytest.raises(L.AuditFailure, match="no_null_ids"):
        L.publish_with_audit(bad, path, checks)
    # previous version still live, staging cleaned up
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == v1
    assert not os.path.isdir(f"{path}.__stage__")


def test_compact_parquet_merges_small_files_preserving_rows(spark, tmp_path):
    """Many tiny files (a streaming sink's debris) compact down to few,
    with the row multiset preserved and the swap atomic."""
    import glob

    from cdc_stream_processor_spark.plans import layout as L

    path = str(tmp_path / "sink")
    for i in range(12):  # 12 micro-batch-sized appends → ≥12 files
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}") for j in range(5)], "id long, tag string"
        ).write.mode("append").parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    assert len(glob.glob(f"{path}/*.parquet")) >= 12
    L.compact_parquet(spark, path, target_file_mb=128)
    assert len(glob.glob(f"{path}/*.parquet")) <= 2
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before


def test_overwrite_partitions_replaces_only_touched_days(spark, tmp_path):
    """Dynamic partition overwrite: backfilling one day replaces that
    day's data and leaves the others byte-identical; re-running the same
    backfill is a no-op (idempotent retry)."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.plans import layout as L

    path = str(tmp_path / "by_day")
    full = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02", "2024-01-03")
         for i in range(5)],
        "day string, id long, v double",
    )
    L.write_date_partitioned(full, path, ["day"])

    fix = spark.createDataFrame(
        [("2024-01-02", i, float(i) * 100) for i in range(3)],
        "day string, id long, v double",
    )
    for _ in range(2):  # idempotent: second run converges to same state
        L.overwrite_partitions(fix, path, ["day"])
        got = spark.read.parquet(path)
        by_day = {
            str(r.day): (r.n, round(r.s, 3))  # partition col reads back DATE
            for r in got.groupBy("day")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert by_day == {
            "2024-01-01": (5, 10.0),
            "2024-01-02": (3, 300.0),
            "2024-01-03": (5, 10.0),
        }
