"""Physical-plan audits: the properties that make queries survive a 100×
scale-up, asserted on the actual Catalyst output so a regression that
silently de-optimizes a plan (lost pushdown, broadcast falling back to
shuffle, codegen break) fails CI — not just a slow bench run later.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_stream_processor_spark import queries_relational as QR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_prune_codegen(spark, sf_dir):
    df = QR.q_pricing_summary(spark, sf_dir)
    plan = _plan(df)
    # filter reaches the parquet scan, not a post-scan Filter node only
    # (plan toString truncates long scan lines, so match the stable prefix)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan" in plan
    # column pruning: the wide comment column never leaves the scan
    assert "l_comment" not in plan
    # the agg pipeline runs inside whole-stage codegen; AQE only shows
    # codegen stage markers (*(n)) in the final plan, so execute first
    df.collect()
    assert "*(1)" in _plan(df)


def test_pricing_summary_partial_then_final_agg(spark, sf_dir):
    plan = _plan(QR.q_pricing_summary(spark, sf_dir))
    # map-side combine: a partial HashAggregate feeds the Exchange, so the
    # shuffle carries one row per (flag,status) per task, not per lineitem
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_shipping_priority_broadcasts_customer_dim(spark, sf_dir):
    plan = _plan(QR.q_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-k is TakeOrderedAndProject (streaming heap), not global Sort+Limit
    assert "TakeOrderedAndProject" in plan


def test_supplier_volume_broadcasts_small_dims(spark, sf_dir):
    plan = _plan(QR.q_supplier_volume(spark, sf_dir))
    # nation and region are broadcast; no BroadcastNestedLoopJoin anywhere
    assert plan.count("BroadcastHashJoin") >= 2
    assert "NestedLoop" not in plan


def test_semi_anti_plan_uses_semi_join(spark, sf_dir):
    plan = _plan(QR.q_semi_anti_customers(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_word_count_partial_agg_before_shuffle(spark, sf_dir):
    plan = _plan(QR.q_doc_word_count(spark, sf_dir))
    # explode stays JVM-side (generator, no Python eval in the hot path)
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_approx_percentile_tracks_exact(spark, sf_dir):
    exact = {
        r.orderpriority: (r.p50_price, r.p90_price)
        for r in QR.q_order_price_quantiles(spark, sf_dir).collect()
    }
    approx = {
        r.o_orderpriority: (r.p50_approx, r.p90_approx)
        for r in QR.q_order_price_quantiles_approx(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for k, (p50, p90) in exact.items():
        a50, a90 = approx[k]
        assert abs(a50 - p50) / p50 < 0.05
        assert abs(a90 - p90) / p90 < 0.05


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    plan = _plan(QR.q_events_asof_orders(spark, sf_dir))
    # union+window as-of: no join node at all, one Window over the union —
    # the O(shuffle+sort) shape, never a range-condition nested loop
    assert "NestedLoop" not in plan
    assert "Window" in plan


def test_lsh_ann_plan_is_equi_join_with_rank_pushdown(spark, sf_dir):
    """SRP-LSH candidate generation must stay an equi-join on
    (table, bucket) — a cartesian/nested-loop product here means the
    bucketing silently degraded to brute force — and the final top-k must
    keep the WindowGroupLimit rank pushdown."""
    from cdc_stream_processor_spark import queries_extensions as QE

    plan = _plan(QE.q_lsh_ann_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "WindowGroupLimit" in plan


def test_cosine_pairs_blocked_plan_has_no_driver_collect_shape(spark, sf_dir):
    """The exact all-pairs surface must be the distributed block self-join:
    the only Python stage is the Arrow-batched block kernel (one
    FlatMapsInPandas/MapInPandas node), with block packing as a partial+final
    objectagg — NOT a plan whose input was collected on the driver (which
    would show as a LocalTableScan feeding the kernel)."""
    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B

    df = S.cosine_pairs(
        B.load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )
    plan = _plan(df)
    assert "InPandas" in plan  # the Arrow block kernel
    assert "LocalTableScan" not in plan  # nothing materialized on the driver
    assert "parquet" in plan  # data flows scan -> shuffle -> kernel
    # (the B×B block-combo join is intentionally a nested loop over B
    # metadata rows — the data rows never enter a cross product)


def test_morton_key_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.plans import layout as L

    def ref(a: int, b: int) -> int:
        out = 0
        for i in range(L.MORTON_BITS):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    pairs = [(0, 0), (1, 0), (0, 1), (5, 9), (123, 456), (65535, 65535)]
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", L.morton_key(F.col("a"), F.col("b")).alias("z")
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    assert got == {(a, b): ref(a, b) for a, b in pairs}


def test_zorder_write_narrows_file_stats_on_both_dims(spark, sf_dir, tmp_path):
    """The point of the layout: write_zordered leaves per-file min/max
    spans narrow in BOTH interleaved dimensions, where a linear sort on
    one column leaves the OTHER column's span at ~full range per file —
    so footer stats prune scans filtered on either column. Asserted
    comparatively against both linear-sort layouts on the actual written
    files (scale-free: holds at any sf / file count)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.plans import layout as L
    from cdc_stream_processor_spark.sources import batch as B

    ev = B.load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
    )

    def mean_spans(path: str) -> dict[str, float]:
        out: dict[str, list[int]] = {"user_id": [], "day_idx": []}
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for col in out:
                idx = names.index(col)
                lo = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                out[col].append(hi - lo)
        assert len(out["user_id"]) >= 8  # the range partitioner spread rows
        return {c: sum(v) / len(v) for c, v in out.items()}

    zpath = str(tmp_path / "zorder")
    L.write_zordered(
        ev, zpath, L.morton_key(F.col("user_id"), F.col("day_idx")), n_files=16
    )
    z = mean_spans(zpath)
    for col, other in (("user_id", "day_idx"), ("day_idx", "user_id")):
        lin = str(tmp_path / f"linear_{col}")
        ev.repartitionByRange(16, col).sortWithinPartitions(col).write.mode(
            "overwrite"
        ).parquet(lin)
        # the z-layout must beat each single-column sort on the column that
        # sort neglects, without giving up ALL the narrowing on its own
        assert z[other] < 0.8 * mean_spans(lin)[other], (col, z)


def test_profile_events_is_constant_passes(spark, sf_dir):
    """All per-column statistics come from a CONSTANT number of passes —
    two scans (plain stats + exact-distinct), never one per column: the
    exact multi-distinct Expand (k+1 row multiplier) runs in its own
    skinny pass so the plain-stat columns don't ride the multiplication,
    and the two 1-row results meet in a broadcast join."""
    df = QR.q_profile_events(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 2
    assert "Expand" in plan  # count(distinct) over k columns
    assert "BroadcastExchange" in plan  # 1-row × 1-row combine


def test_interval_overlap_join_is_equi_join(spark, sf_dir):
    """The epoch binning must make the overlap join a hash equi-join —
    a CartesianProduct/NestedLoop here means the range predicate leaked
    into the join itself and the operator degraded to brute force."""
    plan = _plan(QR.q_concurrent_sessions(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_dynamic_partition_pruning_on_partitioned_join(spark, sf_dir, tmp_path):
    """Joining a date-partitioned fact table on its partition column with a
    filtered dim must inject a DynamicPruning subquery into the fact scan —
    at 100 TB this is the difference between scanning 2 partitions and
    scanning all of them."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.plans import layout as L
    from cdc_stream_processor_spark.sources import batch as B

    ev = B.load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    L.write_date_partitioned(ev, path, ["day"])
    fact = spark.read.parquet(path)
    dim = (
        ev.select("day")
        .distinct()
        .filter(F.col("day") <= F.lit("2024-01-02").cast("date"))
        .withColumn("tag", F.lit("x"))
    )
    joined = fact.join(dim, "day").groupBy("tag").count()
    joined.collect()  # AQE: pruning shows in the final executed plan
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_daily_ohlc_partial_agg_no_window(spark, sf_dir):
    """OHLC bars must reduce via partial+final aggregation (associative
    min_by/max_by), never a per-key window sort."""
    plan = _plan(QR.q_daily_ohlc(spark, sf_dir))
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "Window" not in plan
    assert "partial" in plan.lower()


def test_retraction_aggregate_single_wide_shuffle(spark, sf_dir):
    """One Exchange for the per-key window lag, one tiny Exchange for the
    dimension groupBy — the changelog itself shuffles exactly once."""
    from cdc_stream_processor_spark import queries as Q

    plan = _plan(Q.q_retraction_aggregate(spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "Generate explode" in plan  # delta pairs expand map-side


def test_hopping_window_expands_map_side(spark, sf_dir):
    """The 2-windows-per-event expansion happens before the shuffle
    (Expand/Generate under the partial aggregate), so the shuffle carries
    aggregated rows, not 2× raw events."""
    plan = _plan(QR.q_hopping_event_counts(spark, sf_dir))
    assert ("Expand" in plan) or ("Generate" in plan)
    assert "partial" in plan.lower()


def test_centroid_assign_broadcasts_centroids(spark, sf_dir):
    """The centroid table must broadcast: assignment is a map-only pass
    over the corpus plus its own partial aggregation — no shuffle of the
    corpus against the centroids."""
    from cdc_stream_processor_spark import queries_extensions as QE

    plan = _plan(QE.q_centroid_assign(spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_registry_plan_hygiene_no_rowwise_python(spark, sf_dir):
    """Global regression net over EVERY registered query: no plan may
    contain row-at-a-time Python evaluation (BatchEvalPython) — all
    Python stages must be Arrow-batched (ArrowEvalPython / InPandas).
    Catches a silent de-optimization anywhere in the registry."""
    import __spark_entry__ as entry

    offenders = []
    nested = []
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        if "BatchEvalPython" in _plan(df):
            offenders.append(name)
        # the external gate's canonicalizer cannot hash Array/Map/Struct
        # cells (pandas factorize TypeError — the r4 user_segments /
        # pq_codes reds): registered outputs must be flat (serialize ints
        # with array_join/concat_ws, explode double vectors to rows)
        if any(
            f.dataType.typeName() in ("array", "map", "struct")
            for f in df.schema.fields
        ):
            nested.append(name)
    assert offenders == []
    assert nested == []


def test_registry_every_query_has_an_oracle():
    """The driver records a weaker rows-only check for oracle-less
    queries; keep the registry at 100% oracle coverage so every operator
    has an external verdict."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert sorted(qs) == sorted(oracles)
    assert len(qs) >= 85


def test_runtime_bloom_filter_semi_reduces_fact_side(spark, sf_dir):
    """The 100 TB join story Spark gives us for free: when a dimension side
    carries a selective filter, the optimizer injects a runtime Bloom
    filter (might_contain over the join key) into the FACT side's scan, so
    rows that cannot match never enter the shuffle. On by default
    (spark.sql.optimizer.runtime.bloomFilter.enabled); the size thresholds
    only fire on big scans, so the test lowers them to observe the plan at
    test scale."""
    from cdc_stream_processor_spark.sources import batch as B

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0"
        )
        # force a shuffle join: a broadcast join needs no runtime filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = B.load_table(spark, sf_dir, "lineitem")
        orders = B.load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_force_recheck_self_clears_on_fresh_green(monkeypatch):
    """r10 (judge r8+r9 nit): a _FORCE_RECHECK entry records the round its
    code changed; once a green from that round (or later) lands, the name
    has re-earned its verdict on the new code and the demotion self-clears
    at rotation time — no manual removal, no burned window slot on a
    one-round lag. A green OLDER than the change round (e.g. a query green
    last round whose code changed THIS round) keeps the demotion — recency
    alone never certifies code it didn't run."""
    import json
    import glob
    import os

    import __spark_entry__ as entry

    base = os.path.dirname(os.path.abspath(entry.__file__))
    paths = glob.glob(os.path.join(base, "CORRECTNESS_r*.json"))
    newest_rnd = max(
        int(p.rsplit("_r", 1)[1].split(".")[0]) for p in paths
    )
    newest = [p for p in paths if f"_r{newest_rnd:02d}" in p or
              int(p.rsplit("_r", 1)[1].split(".")[0]) == newest_rnd][0]
    newest_greens = [
        n
        for n, rec in json.load(open(newest)).items()
        if isinstance(rec, dict)
        and not rec.get("err")
        and rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match") in (True, None)
    ]
    assert newest_greens, "newest CORRECTNESS record has no greens?"
    fresh = newest_greens[0]  # green in round newest_rnd
    names = list(entry.queries())

    monkeypatch.setattr(
        entry,
        "_FORCE_RECHECK",
        {
            # changed in the round its green landed → green ran the new
            # code → self-clears
            fresh: newest_rnd,
        },
        raising=True,
    )
    order = entry._rotation_order(names)
    assert order.index(fresh) >= len(order) - len(newest_greens)

    monkeypatch.setattr(
        entry,
        "_FORCE_RECHECK",
        {
            # changed AFTER its green landed (this round) → the green never
            # ran the new code → demotion holds
            fresh: newest_rnd + 1,
        },
        raising=True,
    )
    order = entry._rotation_order(names)
    # the demoted name leads the rotation, behind only never-green
    # queries (a brand-new query has no verdict at all and outranks a
    # stale-green one)
    ever_green = set()
    for p in paths:
        for n, rec in json.load(open(p)).items():
            if (
                isinstance(rec, dict)
                and not rec.get("err")
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") in (True, None)
            ):
                ever_green.add(n)
    head = order[: order.index(fresh)]
    assert all(h not in ever_green for h in head)


def test_registry_rotation_prioritizes_unverified_queries():
    """queries() must order never-green queries (per the committed
    CORRECTNESS_r*.json verdicts) ahead of verified ones, and older greens
    ahead of newer — the driver only checks the first 50 entries per
    round, so this ordering IS the verification schedule."""
    import json
    import glob
    import os

    import __spark_entry__ as entry

    names = list(entry.queries())
    greens: dict[str, int] = {}
    base = os.path.dirname(os.path.abspath(entry.__file__))
    for path in glob.glob(os.path.join(base, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for name, rec in json.load(open(path)).items():
            if (
                isinstance(rec, dict)
                and not rec.get("err")
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") in (True, None)
            ):
                greens[name] = max(greens.get(name, -1), rnd)
    # queries rewritten after their last green are force-rechecked: the
    # rotation treats them as never-green until a fresh verdict lands.
    # SELF-CLEARING (r10): each entry records the round its code changed;
    # a green from that round or later already ran the new code, so the
    # demotion is skipped automatically.
    for name, changed_rnd in entry._FORCE_RECHECK.items():
        if greens.get(name, -1) < changed_rnd:
            greens.pop(name, None)
    ranks = [greens.get(n, -1) for n in names]
    assert ranks == sorted(ranks)  # never-green (-1) first, then ascending


def test_correlated_subquery_decorrelates_to_aggregate_join(spark, sf_dir):
    """The Q17-style per-part scalar subquery must be rewritten by Catalyst
    into one per-part aggregate joined back on the key — NOT a per-row
    re-execution of the inner query. A plan containing the decorrelated
    aggregate + equi-join proves subquery analytics scale linearly."""
    plan = _plan(QR.q_small_quantity_revenue(spark, sf_dir))
    assert "Join" in plan  # the decorrelated equi-join on l_partkey
    assert plan.count("HashAggregate") >= 2  # inner avg + outer sum
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_knn_graph_plan_blocked_kernel_no_driver_collect(spark, sf_dir):
    """knn_graph must run as the distributed block kernel: Arrow InPandas
    stage fed from the parquet scan (never a LocalTableScan of collected
    data), with the final per-vector rank kept as a WindowGroupLimit."""
    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B

    # inspect the undecorated kernel: the memoized knn_graph returns a
    # localCheckpoint, which truncates the inspectable lineage
    df = S.knn_graph.__wrapped__(
        B.load_table(spark, sf_dir, "embeddings"), k=3, block_size=256
    )
    plan = _plan(df)
    assert "InPandas" in plan
    assert "LocalTableScan" not in plan
    assert "WindowGroupLimit" in plan


def test_skyline_plan_no_cartesian_no_corpus_window(spark, sf_dir):
    """The bucket-pruned skyline must not plan a cartesian self-join, and
    its only unpartitioned windows run AFTER aggregation (bucket/level
    scale), never on the orders scan directly."""
    from cdc_stream_processor_spark import queries_relational as QRel

    plan = _plan(QRel.q_skyline_orders(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the broadcasts: bounds row, bucket running-max table, level table
    assert plan.count("BroadcastExchange") >= 3


def test_distributed_rank_no_global_single_partition_sort(spark, sf_dir):
    """rfm_scores' ranks must come from the bucketed pattern: windows are
    partitioned by _bkt; the only unpartitioned window input is the
    ≤1024-row bucket-count aggregate."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.operators import relational as R
    from cdc_stream_processor_spark.sources import batch as B

    orders = B.load_table(spark, sf_dir, "orders")
    # force the distributed regime: the probed small-input path takes one
    # partition-less window by design (the range_rank regime switch)
    df = R.distributed_rank(
        orders, F.col("o_totalprice"), F.col("o_orderkey"), small_limit=0
    )
    plan = _plan(df)
    # the per-row window's exchange hashes on the bucket key — a global
    # rank would instead show Exchange SinglePartition feeding the Sort
    assert "hashpartitioning(_bkt" in plan
    # regime equality: the probed small path emits identical ranks
    small = R.distributed_rank(
        orders, F.col("o_totalprice"), F.col("o_orderkey")
    )
    a = {r["o_orderkey"]: r["_rank"] for r in df.select("o_orderkey", "_rank").collect()}
    b = {r["o_orderkey"]: r["_rank"] for r in small.select("o_orderkey", "_rank").collect()}
    assert a == b


def test_sequence_gap_audit_windows_are_bucket_partitioned(spark, sf_dir):
    from cdc_stream_processor_spark import queries_relational as QRel

    plan = _plan(QRel.q_sequence_gap_audit(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "bkt" in plan  # intra-bucket lag partitions on the bucket key


# --- round-7 session-2 families ----------------------------------------------


def test_bm25_filters_terms_before_shuffle_and_heap_topk(spark, sf_dir):
    from cdc_stream_processor_spark import queries_retrieval as QV

    plan = _plan(QV.q_bm25_topk(spark, sf_dir))
    # global top-k is a streaming heap, not Sort+Limit
    assert "TakeOrderedAndProject" in plan
    # term stats come back as broadcasts, never a shuffled join
    assert "BroadcastHashJoin" in plan
    # the query-term filter sits below the tf aggregation (In-filter on
    # the exploded token), so the corpus-scale shuffle carries only
    # matching (doc, term) rows
    assert "token IN" in plan or "token#" in plan and " IN (" in plan


def test_kmv_rank_compiles_to_window_group_limit(spark, sf_dir):
    from cdc_stream_processor_spark import queries_retrieval as QV

    plan = _plan(QV.q_kmv_distinct_tokens(spark, sf_dir))
    # rank <= k pushes a WindowGroupLimit below the sort: partitions
    # retain k rows each, no full per-source sorted materialization
    assert "WindowGroupLimit" in plan


def test_er_pairs_join_on_block_key_no_nested_loop(spark, sf_dir):
    from cdc_stream_processor_spark import queries_linkage as QL

    plan = _plan(QL.q_er_match_pairs(spark, sf_dir))
    # the pair join is an equi-join on the blocking key (hash-joinable);
    # a cartesian/nested-loop pair enumeration must never appear
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_misra_gries_summary_partial_aggs(spark, sf_dir):
    from cdc_stream_processor_spark import queries_corpus as QC

    plan = _plan(QC.q_misra_gries_summary(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan


def test_cms_shuffle_is_cell_bounded_partial_agged(spark, sf_dir):
    from cdc_stream_processor_spark import queries_corpus as QC

    plan = _plan(QC.q_cms_token_counts(spark, sf_dir))
    # the (row, col) count agg carries map-side partials so the shuffle
    # is bounded by depth*width cells per task, not token volume
    assert plan.count("HashAggregate") >= 2


def test_multimodal_resize_is_shuffle_free_codegen(spark, sf_dir):
    from cdc_stream_processor_spark import queries_extensions as QE

    df = QE.q_multimodal_resize(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan  # map-only, zero shuffle
    df.collect()
    assert "*(1)" in _plan(df)  # whole-stage codegen, no Python stage
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --- round-7 session-3 families ----------------------------------------------


def test_sketch_quantiles_partial_agged_histogram(spark, sf_dir):
    from cdc_stream_processor_spark import queries_corpus as QC

    plan = _plan(QC.q_sketch_quantiles(spark, sf_dir))
    # bin counts carry map-side partials — the partial AGg IS the sketch
    # merge, so the shuffle is bounded by `bins` cells per task
    assert "partial_count" in plan
    # no Python anywhere: the whole sketch is JVM column arithmetic
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_jsonl_dlq_ingest_is_two_shuffle_jvm_serde(spark, sf_dir):
    from cdc_stream_processor_spark import queries_extensions as QE

    df = QE.q_jsonl_dlq_ingest(spark, sf_dir)
    plan = _plan(df)
    # serialize + parse + classify is all map-side; the only exchanges
    # are the per-source agg and the tiny final sort
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "EvalPython" not in plan
    # the serde really is Spark's JSON codec, not string hackery (the
    # executed-plan toString truncates projections — read the analyzed
    # logical plan for the expression check)
    lplan = df._jdf.queryExecution().analyzed().toString()
    assert "from_json" in lplan and "to_json" in lplan


def test_subword_segment_vocab_scale_arrow_kernel(spark, sf_dir):
    from cdc_stream_processor_spark import queries_corpus as QC

    plan = _plan(QC.q_subword_segment(spark, sf_dir))
    # ONE corpus-scale shuffle (the word count); the greedy scanner is a
    # single Arrow-batched stage over the distinct-word table
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


# --- round-7 session-4 families ----------------------------------------------


def test_audio_chunks_is_shuffle_free_codegen(spark, sf_dir):
    from cdc_stream_processor_spark import queries_quality as QQ

    df = QQ.q_audio_chunks(spark, sf_dir)
    plan = _plan(df)
    # segmentation geometry is a map-only JVM fan-out (like resize)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    df.collect()
    assert "*(1)" in _plan(df)


def test_ams_f2_vocabulary_scale_partial_aggs(spark, sf_dir):
    from cdc_stream_processor_spark import queries_quality as QQ

    plan = _plan(QQ.q_ams_f2_tokens(spark, sf_dir))
    # token counts carry map-side partials (the only corpus-scale
    # shuffle); the estimator explode runs AFTER, at vocabulary scale
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_k_anonymity_two_agg_ladder_no_row_export(spark, sf_dir):
    from cdc_stream_processor_spark import queries_quality as QQ

    plan = _plan(QQ.q_k_anonymity_audit(spark, sf_dir))
    # rows -> QI classes -> size spectrum: both aggs partial-agged, so
    # the per-row QI table never crosses the wire unreduced
    assert plan.count("HashAggregate") >= 4
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_silhouette_broadcast_centroids_map_only_scoring(spark, sf_dir):
    from cdc_stream_processor_spark import queries_quality as QQ

    plan = _plan(QQ.q_silhouette_by_label(spark, sf_dir))
    # the n_labels-row centroid table broadcasts; scoring never shuffles
    # the corpus against it (no SortMergeJoin anywhere)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
