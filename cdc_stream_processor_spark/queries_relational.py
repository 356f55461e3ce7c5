"""Relational-surface queries for the driver contract (SURVEY.md §2.11).

TPC-H-style aggregation/join/top-k plus ranking windows, set ops, rollup,
distinct — each with an exact DuckDB oracle. Money sums run in DECIMAL(18,4)
on both sides (order-independent), averages are exact-sum/count in double,
and every LIMIT/rank carries a unique tie-break so results are total-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_stream_processor_spark.operators.relational import (
    asof_join,
    banded_range_join,
    davg,
    dsum,
    global_top_k,
    top_k_per_group,
)
from cdc_stream_processor_spark.operators import relational as R
from cdc_stream_processor_spark.plans import layout as L
from cdc_stream_processor_spark.sources import batch as B


# --- Q1-style pricing summary (scan + partial/final agg, no shuffle skew) ----


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = B.load_table(spark, sf_dir, "lineitem")
    # All three factors go to decimal BEFORE multiplying: a double product
    # rounds differently in Spark (HALF_UP on shortest decimal repr) vs DuckDB
    # (binary double) at half boundaries. DECIMAL(12,4)·(8,4)·(8,4) stays
    # within 38 digits, so both engines compute the exact same product.
    ep = F.col("l_extendedprice").cast("decimal(12,4)")
    one_minus = F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    one_plus = F.lit(1).cast("decimal(8,4)") + F.col("l_tax").cast("decimal(8,4)")
    disc_price = ep * one_minus
    charge = disc_price * one_plus
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.round(disc_price, 4)).alias("sum_disc_price"),
            dsum(F.round(charge, 4)).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,4))
       * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))), 4)
       AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,4))
       * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
       * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4))), 4)
       AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity)
    AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
    / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount)
    AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority (3-way join + agg + global top-k) ------------


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = B.load_table(spark, sf_dir, "customer")
    orders = B.load_table(spark, sf_dir, "orders")
    li = B.load_table(spark, sf_dir, "lineitem")
    revenue = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        li.filter(F.col("l_shipdate") > F.lit("1998-06-15"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1998-06-15")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        dsum(revenue).alias("revenue")
    )
    return global_top_k(
        agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND l_shipdate > TIMESTAMP '1998-06-15'
  AND o_orderdate < TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q5-style local supplier volume (5-way join chain, broadcast dims) -------


def q_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = B.load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    revenue = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "AFRICA"))
    )
    return joined.groupBy("n_name").agg(dsum(revenue).alias("revenue"))


SQL_SUPPLIER_VOLUME = """
SELECT n_name,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'AFRICA')
GROUP BY n_name
"""


# --- Top-k per group (ranking window + rank pushdown) ------------------------


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = B.load_table(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "rn")


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


# --- Analytic window functions: lag/lead/rank/frames over events -------------


def q_event_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = B.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.row_number().over(w).alias("event_seq"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(run)
        .cast("double")
        .alias("running_value"),
    )


SQL_EVENT_ANALYTICS = """
SELECT event_id, user_id, event_type, value,
  lag(value)  OVER w AS prev_value,
  lead(value) OVER w AS next_value,
  ROW_NUMBER() OVER w AS event_seq,
  CAST(SUM(CAST(value AS DECIMAL(18,4)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- Set operations -----------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = B.load_table(spark, sf_dir, "events")
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id")
    clickers = events.filter(F.col("event_type") == "click").select("user_id")
    erroring = events.filter(
        (F.col("event_type") == "error") & (F.col("ts") >= F.lit("2024-01-25"))
    ).select("user_id")
    # engaged users (purchase ∩ click) minus anyone erroring since Jan 25
    return (
        purchasers.intersect(clickers)
        .exceptAll(erroring.distinct())
        .select(F.col("user_id").alias("engaged_user_id"))
    )


SQL_SET_OPS = """
SELECT user_id AS engaged_user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'click'
)
EXCEPT ALL
SELECT DISTINCT user_id FROM events
WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-25'
"""


# --- Rollup / grouping sets ----------------------------------------------------


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = B.load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --- Distinct / multi-dimensional cube -----------------------------------------


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = B.load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


KMV_K = 32  # bottom-k sketch size (< per-group cardinality so estimation kicks in)
KMV_A = 968665207  # affine hash multiplier, < P_MOD
KMV_B = 1182989299 % 2147483647
KMV_P = 2147483647  # 2^31-1 (Mersenne prime), matches texthash.P_MOD


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via a KMV (k-minimum-values /
    bottom-k) sketch (Bar-Yossef et al. '02): hash each key with a fixed
    affine permutation mod a Mersenne prime, keep the K smallest DISTINCT
    hashes per group, estimate D ≈ (K-1)·P / h_(K) — exact count when the
    group holds fewer than K distinct keys.

    Registered instead of the builtin HLL (`approx_count_distinct`, kept as
    q_approx_distinct_users_hll with a pytest error bound) because KMV is
    fully deterministic and engine-neutral, so DuckDB reproduces it bit-for-
    bit — the sketch itself is oracle-checkable, not just its error bound.

    Scale shape: the hash is a map-side projection; the bottom-k is one
    shuffle on event_type with a WindowGroupLimit (row_number ≤ K rank
    pushdown), so only K rows per group survive — same shuffle volume as any
    per-group top-k, mergeable across partitions like a real sketch."""
    events = B.load_table(spark, sf_dir, "events")
    h = ((F.col("user_id") % KMV_P) * KMV_A + KMV_B) % KMV_P
    hashes = events.select("event_type", h.alias("hv")).distinct()
    bottom_k = top_k_per_group(
        hashes, ["event_type"], [F.col("hv").asc()], KMV_K, rank_col="rn"
    )
    agg = bottom_k.groupBy("event_type").agg(
        F.max("hv").alias("hk"), F.count(F.lit(1)).alias("nh")
    )
    # raw (K-1)·P / h_k quotient, NOT rounded: one IEEE double division is
    # bit-identical in Spark and DuckDB, whereas Spark's round-on-double
    # (HALF_UP on shortest repr) and DuckDB's ROUND (binary) can diverge at
    # a half boundary.  try_divide: negative user_ids make hv negative
    # (both engines' % keeps the dividend sign), so the bottom-K max can
    # land on exactly 0 — DuckDB ships NULL for /0 where ANSI `/` would
    # kill the job.
    est = F.when(F.col("nh") < KMV_K, F.col("nh").cast("double")).otherwise(
        F.try_divide(
            F.lit(float(KMV_K - 1)) * F.lit(float(KMV_P)), F.col("hk")
        )
    )
    return agg.select("event_type", est.alias("approx_users"))


SQL_APPROX_DISTINCT_USERS = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ((user_id % {KMV_P}) * {KMV_A} + {KMV_B}) % {KMV_P} AS hv
  FROM events
), r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv ASC) AS rn
  FROM h
), s AS (
  SELECT event_type, MAX(hv) AS hk, COUNT(*) AS nh
  FROM r WHERE rn <= {KMV_K} GROUP BY event_type
)
SELECT event_type,
       CASE WHEN nh < {KMV_K} THEN nh::DOUBLE
            ELSE ({float(KMV_K - 1)} * {float(KMV_P)}) / hk
       END AS approx_users
FROM s
"""


def q_approx_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builtin HLL++ approximate distinct — the 100 TB default (constant
    memory per group, no window). Sketch internals are engine-specific, so
    this form has no DuckDB oracle; pytest bounds its error vs exact."""
    events = B.load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


# --- Cube (multi-dimensional aggregation) ---------------------------------------


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = B.load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("orderpriority"),
            "revenue",
            "n_orders",
        )
    )


SQL_CUBE_ORDERS = """
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- Semi / anti joins ----------------------------------------------------------


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers split by purchase activity: left_semi picks buyers,
    left_anti the rest; the event side is aggregated to distinct keys
    before the join (the cheap side of the semi/anti pair), with the
    join strategy left to AQE."""
    cust = B.load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    buyers = (
        B.load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_custkey"))
        .distinct()
    )
    # no broadcast hint on buyers: distinct purchasers are O(customers) —
    # unbounded at 100 TB; AQE broadcasts when the aggregated side is
    # actually small (r8, same class as the dbscan cores fix)
    semi = cust.join(buyers, "c_custkey", "left_semi").withColumn(
        "segment", F.lit("purchaser")
    )
    anti = cust.join(buyers, "c_custkey", "left_anti").withColumn(
        "segment", F.lit("non_purchaser")
    )
    return semi.unionByName(anti)


SQL_SEMI_ANTI_CUSTOMERS = """
SELECT c_custkey, c_name, 'purchaser' AS segment FROM customer
WHERE EXISTS (SELECT 1 FROM events e
              WHERE e.event_type = 'purchase' AND e.user_id = c_custkey)
UNION ALL
SELECT c_custkey, c_name, 'non_purchaser' AS segment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.event_type = 'purchase' AND e.user_id = c_custkey)
"""


# --- As-of join (most recent right row at-or-before left time) -------------------


def q_events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent order at event time
    (tie-break: highest o_orderkey). Single-shuffle union+window as-of."""
    events = B.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = B.load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    out = asof_join(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_seq="o_orderkey",
        payload=["o_orderkey", "o_orderdate", "o_totalprice"],
    )
    return out.select(
        "event_id", "user_id", "o_orderkey", "o_orderdate", "o_totalprice"
    )


SQL_EVENTS_ASOF_ORDERS = """
SELECT event_id, user_id, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC)
           AS rn
  FROM events e
  LEFT JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
"""


# --- ntile decile analysis (rank bucketing) -------------------------------------


def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile buckets of order value (ntile over a total order), rolled up
    to per-decile revenue — the distribution-profile query every training
    corpus triage starts with. Total ordering (price desc, key asc) makes
    ntile deterministic and oracle-matchable.

    Scale note: an unpartitioned window funnels all rows through ONE task —
    exact global ntile does not scale past what a single executor can sort.
    At 100 TB use `operators.relational.distributed_rank` (terasort-shaped
    exact rank, see rfm_scores for the registered usage) or approx cut
    points + a scan-side CASE; this ntile form exists for the oracle
    contract and per-group use."""
    orders = B.load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    tiled = orders.select(
        "o_totalprice", F.ntile(10).over(w).alias("decile")
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


SQL_ORDER_VALUE_DECILES = """
SELECT decile, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS decile
  FROM orders
)
GROUP BY decile
"""


# --- Banded range join (|Δt| ≤ band, bucketed to an equi join) -----------------


RANGE_BAND_SECONDS = 3600  # ±1 hour


def q_event_pairs_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of events by the same user within ±1 hour of each other
    (burst / near-duplicate activity detection). A naive |Δt| ≤ band
    predicate plans as a nested-loop join, O(|L|·|R|) per user;
    ``banded_range_join`` buckets both sides into band-width epochs so
    Catalyst runs a single hash-shuffle EQUI join on (user, bucket) with
    the exact |Δt| residual filter applied post-match — the plan that
    survives a 100× scale-up. Direction deduped with event_id < event_id_b."""
    events = B.load_table(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts")
    right = events.select(
        F.col("event_id").alias("event_id_b"),
        "user_id",
        F.col("ts").alias("ts_b"),
    )
    out = banded_range_join(
        left,
        right,
        left_time="ts",
        right_time="ts_b",
        band_seconds=RANGE_BAND_SECONDS,
        extra_on=["user_id"],
    ).filter(F.col("event_id") < F.col("event_id_b"))
    return out.select(
        "user_id",
        "event_id",
        "event_id_b",
        (F.unix_timestamp("ts_b") - F.unix_timestamp("ts")).alias("delta_s"),
    )


SQL_EVENT_PAIRS_RANGE_JOIN = f"""
-- FLOOR(epoch(...)) mirrors Spark's unix_timestamp whole-second truncation
SELECT a.user_id, a.event_id, b.event_id AS event_id_b,
       CAST(FLOOR(epoch(b.ts)) - FLOOR(epoch(a.ts)) AS BIGINT) AS delta_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND ABS(FLOOR(epoch(a.ts)) - FLOOR(epoch(b.ts))) <= {RANGE_BAND_SECONDS}
"""


# --- Pivot (wide-form cross-tab) ----------------------------------------------

PIVOT_PRIORITIES = [
    ("1-URGENT", "p_urgent"),
    ("2-HIGH", "p_high"),
    ("3-MEDIUM", "p_medium"),
    ("4-NOT SPECIFIED", "p_not_specified"),
    ("5-LOW", "p_low"),
]


def q_pivot_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue cross-tab: one row per order status, one column per priority.
    The pivot value list is passed explicitly — otherwise Spark runs an
    extra distinct-scan job just to discover the columns, which at 100 TB
    is a full pass over the fact table for metadata."""
    orders = B.load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", [v for v, _ in PIVOT_PRIORITIES])
        .agg(dsum("o_totalprice"))
    )
    return wide.select(
        F.col("o_orderstatus").alias("orderstatus"),
        *[wide[v].alias(alias) for v, alias in PIVOT_PRIORITIES],
    )


def q_unpivot_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of the cross-tab: the wide pivot
    result melts back to long (orderstatus, priority, revenue) rows via
    the native unpivot operator (map-only Expand, no shuffle of its own).
    Pivot→unpivot round-trips to the plain GROUP BY, which is exactly
    what the oracle states."""
    wide = q_pivot_order_revenue(spark, sf_dir)
    return wide.unpivot(
        ids=["orderstatus"],
        values=[alias for _, alias in PIVOT_PRIORITIES],
        variableColumnName="priority",
        valueColumnName="revenue",
    ).filter(F.col("revenue").isNotNull())


# unpivot's variable column carries the wide-table COLUMN names (the
# aliases), so the oracle groups by the alias and maps it back to the
# original priority value only inside the filter
_ALIAS_TO_VALUE = " ".join(
    f"WHEN '{alias}' THEN '{v}'" for v, alias in PIVOT_PRIORITIES
)

SQL_UNPIVOT_ORDER_REVENUE = f"""
SELECT o_orderstatus AS orderstatus, u.p AS priority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders, unnest([{", ".join("'" + a + "'" for _, a in PIVOT_PRIORITIES)}])
  AS u(p)
WHERE o_orderpriority = CASE u.p {_ALIAS_TO_VALUE} END
GROUP BY 1, 2
"""


SQL_PIVOT_ORDER_REVENUE = """
SELECT o_orderstatus AS orderstatus,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS p_urgent,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS p_high,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS p_medium,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE)
    AS p_not_specified,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS p_low
FROM orders
GROUP BY o_orderstatus
"""


# --- Explode / lateral view (generator functions) ------------------------------


def q_doc_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic word count via explode(split(...)): top 20 words across the
    corpus with per-word document frequency. The generator runs inside
    whole-stage codegen (no Python); the groupBy gets map-side partial
    aggregation, so the shuffle carries one row per distinct word per task,
    not one per token — the property that makes this viable at 100 TB."""
    docs = B.load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    agg = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return global_top_k(
        agg, [F.col("n_occurrences").desc(), F.col("word").asc()], 20
    )


SQL_DOC_WORD_COUNT = """
SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
) WHERE word <> ''
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT 20
"""


# --- Exact percentiles (sort-based aggregate) -----------------------------------


def q_order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) of order value per
    priority. Exact percentile is a sort-based aggregate — fine per-group;
    for a global percentile over 100 TB prefer approx_percentile (t-digest,
    mergeable, one pass) and accept the documented error bound."""
    orders = B.load_table(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            pct.getItem(0).alias("p50_price"),
            pct.getItem(1).alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(
            F.col("o_orderpriority").alias("orderpriority"),
            F.round("p50_price", 4).alias("p50_price"),
            F.round("p90_price", 4).alias("p90_price"),
            "min_price",
            "max_price",
        )
    )


def q_order_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — the 100 TB path: approx_percentile is a
    mergeable one-pass summary with bounded error, so the partial-aggregation
    pattern (and shuffle volume) matches a plain sum.

    Oracle-checkable because approx_percentile returns a genuine element of
    the column (smallest value with rank ≥ ⌈p·N⌉) and is EXACT whenever the
    per-group cardinality fits the accuracy parameter: at accuracy 10⁵ it
    equals DuckDB's quantile_disc for every group at the gate's scale factors
    (verified at sf0.001/sf0.01; ~30 k rows/group at sf0.1 still fits). At
    100 TB the same plan degrades gracefully to the documented error bound —
    pytest separately bounds error vs exact at low accuracy.

    The exactness precondition is eps·N < 0.5 per group, i.e. accuracy >
    2·max-group-cardinality — enforced below by scaling the accuracy with
    the table's parquet-footer row count (an upper bound on any group's
    cardinality, read driver-side in ~ms) rather than an eager group-size
    Spark job at query construction."""
    import pyarrow.parquet as pq

    orders = B.load_table(spark, sf_dir, "orders")
    total_n = pq.read_metadata(f"{sf_dir}/orders.parquet").num_rows
    accuracy = max(100_000, 4 * int(total_n))
    pct = F.approx_percentile(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(accuracy)
    )
    return orders.groupBy("o_orderpriority").agg(
        pct.getItem(0).alias("p50_approx"),
        pct.getItem(1).alias("p90_approx"),
    )


SQL_ORDER_PRICE_QUANTILES_APPROX = """
SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.5) AS p50_approx,
       quantile_disc(o_totalprice, 0.9) AS p90_approx
FROM orders
GROUP BY o_orderpriority
"""


SQL_ORDER_PRICE_QUANTILES = """
SELECT o_orderpriority AS orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


# --- GROUPING SETS (explicit, beyond cube/rollup) -------------------------------

SQL_GROUPING_SETS_REVENUE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — marginals by returnflag, by linestatus, and
    the grand total, without the full cube cross-product. One dialect-neutral
    SQL string runs verbatim on spark.sql and the DuckDB oracle."""
    B.load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_GROUPING_SETS_REVENUE)


# --- SQL frontend (spark.sql over registered views) ---------------------------


def q_pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pricing summary through the SQL frontend: the ONE
    dialect-neutral string (SQL_PRICING_SUMMARY) runs verbatim on both
    spark.sql and the DuckDB oracle — demonstrating the engine's full SQL
    surface compiles to the identical Catalyst plan as the DataFrame form."""
    B.load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_PRICING_SUMMARY)


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sessionize(B.load_table(spark, sf_dir, "events"))


# Same integer-µs gap rule and DECIMAL value sum; the islands-and-gaps
# cumulative flag-sum is stated identically in both engines.
SQL_USER_SESSIONS = f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value::DECIMAL(18,4) AS v
  FROM events
), flagged AS (
  SELECT user_id, event_id, us, v,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {R.SESSION_GAP_MINUTES * 60_000_000}
              THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sessions AS (
  SELECT user_id, us, v,
         (SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us,
       MAX(us) - MIN(us) AS duration_us,
       SUM(v)::DOUBLE AS total_value
FROM sessions
GROUP BY user_id, session_id
"""


# First-48h slice: the full window is degenerate (every user completes all
# steps); the slice exercises every stage 0..4 (64/56/21/6/3 at sf0.01).
FUNNEL_CUTOFF = "2024-01-03"


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = B.load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(FUNNEL_CUTOFF).cast("timestamp")
    )
    return R.funnel(events)


# Independent formulation of the same semantics: sequential min-after CTEs
# (t_k = first step-k event strictly after t_{k-1}) — equal to the engine's
# greedy one-pass fold, so agreement is a genuine cross-check of both.
SQL_EVENT_FUNNEL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
  WHERE ts < TIMESTAMP '{FUNNEL_CUTOFF}'
), s1 AS (
  SELECT user_id, MIN(us) AS t1 FROM e
  WHERE event_type = '{R.FUNNEL_STEPS[0]}' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE event_type = '{R.FUNNEL_STEPS[1]}' AND us > t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE event_type = '{R.FUNNEL_STEPS[2]}' AND us > t2 GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, MIN(us) AS t4 FROM e JOIN s3 USING (user_id)
  WHERE event_type = '{R.FUNNEL_STEPS[3]}' AND us > t3 GROUP BY e.user_id
)
SELECT u.user_id,
       ((t1 IS NOT NULL)::BIGINT + (t2 IS NOT NULL)::BIGINT
         + (t3 IS NOT NULL)::BIGINT + (t4 IS NOT NULL)::BIGINT) AS funnel_stage,
       t1 AS t1_us, t2 AS t2_us, t3 AS t3_us, t4 AS t4_us
FROM (SELECT DISTINCT user_id FROM e) u
LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.cohort_retention(B.load_table(spark, sf_dir, "events"))


SQL_COHORT_RETENTION = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT c.cohort_day,
       date_diff('day', c.cohort_day, d.day) AS day_offset,
       COUNT(*) AS n_users
FROM days d JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


def q_daily_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.resample_timeseries(B.load_table(spark, sf_dir, "events"))


SQL_DAILY_TIMESERIES = f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {R.DAY_US} AS bucket_idx,
         value::DECIMAL(18,4) AS v
  FROM events
), agg AS (
  SELECT user_id, bucket_idx, COUNT(*) AS n_events,
         SUM(v)::DOUBLE AS total_value
  FROM b GROUP BY user_id, bucket_idx
), spine AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_idx
  FROM (SELECT user_id, MIN(bucket_idx) AS lo, MAX(bucket_idx) AS hi
        FROM agg GROUP BY user_id)
)
SELECT s.user_id, s.bucket_idx,
       COALESCE(a.n_events, 0) AS n_events,
       COALESCE(a.total_value, 0.0) AS total_value
FROM spine s LEFT JOIN agg a USING (user_id, bucket_idx)
"""


def q_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rolling_zscore(B.load_table(spark, sf_dir, "events"))


# Identical association order per double step; DECIMAL frame sums; variance
# clamped at zero before sqrt (DuckDB rejects sqrt of a negative outright).
SQL_ROLLING_ANOMALIES = f"""
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, value,
         value::DECIMAL(18,4) AS v
  FROM events
), stats AS (
  SELECT event_id, user_id, value,
         (SUM(v) OVER w)::DOUBLE / (COUNT(*) OVER w) AS mean,
         (SUM(v * v) OVER w)::DOUBLE / (COUNT(*) OVER w) AS meansq
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {R.ZSCORE_FRAME} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, value, mean AS rolling_mean,
       (value - mean) / (sqrt(greatest(meansq - mean * mean, 0.0)) + 1e-9)
         AS zscore,
       abs((value - mean) / (sqrt(greatest(meansq - mean * mean, 0.0)) + 1e-9))
         > {R.ZSCORE_THRESHOLD} AS is_anomaly
FROM stats
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.event_transitions(B.load_table(spark, sf_dir, "events"))


SQL_EVENT_TRANSITIONS = """
WITH steps AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_steps
  FROM (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_steps,
       n_steps::DOUBLE / SUM(n_steps) OVER (PARTITION BY prev_type)
         AS p_transition
FROM steps
"""


# --- empirical CDF (percent_rank / cume_dist) -----------------------------------


def q_order_price_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF position of every order within its priority class —
    percent_rank ((rank-1)/(n-1)) and cume_dist (rows≤current / n), the
    two distribution-position windows not covered by the analytics bank.
    Both are single divisions of integers, so engine-exact."""
    orders = B.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_ORDER_PRICE_CDF = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


# --- Gini concentration index ---------------------------------------------------


def q_order_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini) index per order priority:
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-ranked amounts,
    algebraically folded to ONE division of two exact integers:
    G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx), amounts scaled to integer
    ten-thousandths and every moment kept at DECIMAL scale 0.

    Why scale 0 (r8 fix, caught by the sf0.1 oracle probe): a
    DECIMAL(38,s>0)→DOUBLE cast is correctly rounded in Spark
    (BigDecimal) but TWO-step in DuckDB (int128→double, then /10^s) —
    off by an ulp once the moment exceeds ~2^53, which Σ(i·xᵢ) does at
    sf0.1. Scale-0 casts are a single correctly-rounded int→double in
    BOTH engines (verified on boundary values), so the folded form is
    bit-exact at any SF. One shuffle for the per-group rank window,
    then partial aggregation."""
    orders = B.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,4)") * 10_000)
        .cast("decimal(38,0)")
        .alias("xs"),
        F.row_number().over(w).alias("i"),
    )
    agg = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xs").alias("sxs"),
        F.sum(F.col("i") * F.col("xs")).alias("sixs"),
    )
    num = (F.lit(2) * F.col("sixs") - (F.col("n") + 1) * F.col("sxs")).cast(
        "decimal(38,0)"
    )
    den = (F.col("n") * F.col("sxs")).cast("decimal(38,0)")
    return agg.select(
        F.col("o_orderpriority").alias("orderpriority"),
        "n",
        (F.col("sxs").cast("double") / F.lit(10_000.0)).alias("total"),
        # NULL when a group's total is 0 (gini undefined) — DuckDB's
        # division already yields NULL on a zero divisor; the unguarded
        # form raised DIVIDE_BY_ZERO under ANSI mode
        F.when(
            den != F.lit(0).cast("decimal(38,0)"),
            num.cast("double") / den.cast("double"),
        ).alias("gini"),
    )


SQL_ORDER_VALUE_GINI = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS xs,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS i
  FROM orders
), agg AS (
  SELECT o_orderpriority, COUNT(*) AS n, SUM(xs) AS sxs, SUM(i * xs) AS sixs
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority AS orderpriority, n,
       sxs::DOUBLE / 10000.0 AS total,
       (2 * sixs - (n + 1) * sxs)::DOUBLE / (n * sxs)::DOUBLE AS gini
FROM agg
"""


# --- PII pseudonymization -------------------------------------------------------

PSEUDO_SALT = "cdc-stream-processor-spark/v1"  # deploy-time secret in prod


def q_pseudonymized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style pseudonymization: the user identifier is replaced by a
    salted SHA-256 (stable join key across tables, irreversible without
    the salt), raw id dropped. Map-only column transform inside codegen —
    at 100 TB this is a projection, not a job. Complements pii_scan
    (detection) with the remediation half."""
    ev = B.load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.sha2(
            F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")), 256
        ).alias("user_pseudo"),
        "event_type",
        "value",
    )


SQL_PSEUDONYMIZED_EVENTS = f"""
SELECT event_id,
       sha256('{PSEUDO_SALT}' || user_id::VARCHAR) AS user_pseudo,
       event_type, value
FROM events
"""


# --- Benford first-digit screening ---------------------------------------------


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of transaction-like amounts
    per event type — the Benford's-law fraud screen (the reference domain
    is banking; auditors run exactly this over amount columns). Digit
    extraction is pure string ops on the absolute value (exact — no
    log10 and its cross-engine rounding hazards); observed fraction is
    one correctly-rounded division against the group total."""
    ev = B.load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    digit = F.substring(
        F.regexp_replace(
            F.format_number(F.col("value").cast("double"), 9), r"[0.,]", ""
        ),
        1,
        1,
    ).cast("int")
    counts = (
        ev.select("event_type", digit.alias("digit"))
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "digit",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "frac"
        ),
    )


SQL_BENFORD_DIGITS = """
WITH d AS (
  SELECT event_type,
         CAST(substr(regexp_replace(format('{:.9f}', value), '[0.,]', '', 'g'),
                     1, 1) AS INT) AS digit
  FROM events WHERE value > 0
), c AS (
  SELECT event_type, digit, COUNT(*) AS n FROM d GROUP BY 1, 2
)
SELECT event_type, digit, n,
       n::DOUBLE / SUM(n) OVER (PARTITION BY event_type)::DOUBLE AS frac
FROM c
"""


# --- ratio-to-report (window over aggregate) -----------------------------------


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share of each nation within its region — the
    ratio-to-report window over a pre-aggregated frame: the window input
    is the 25-row nation aggregate, never the fact table, so the
    unpartitioned-window hazard never materializes. Share is one
    correctly-rounded division of decimal-exact sums; try_divide ships
    NULL for a region whose revenue sums to exactly 0 (DuckDB's /0
    result) instead of killing the job under ANSI — found by the r12
    all-zero-group numeric fixture."""
    orders = B.load_table(spark, sf_dir, "orders")
    cust = B.load_table(spark, sf_dir, "customer")
    nation = B.load_table(spark, sf_dir, "nation")
    region = B.load_table(spark, sf_dir, "region")
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        # keep DECIMAL through the window: a double window-sum accumulates
        # in partition row order (nondeterministic last-ulp results); the
        # decimal sum is exact and order-independent, cast only at the end
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec")
        )
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("rev_dec").cast("double").alias("nation_revenue"),
        F.try_divide(
            F.col("rev_dec").cast("double"),
            F.sum("rev_dec").over(w).cast("double"),
        ).alias("share_of_region"),
    )


SQL_NATION_REVENUE_SHARE = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev_dec
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, rev_dec::DOUBLE AS nation_revenue,
       rev_dec::DOUBLE
         / (SUM(rev_dec) OVER (PARTITION BY r_name))::DOUBLE
         AS share_of_region
FROM per_nation
"""


# --- behavioral segments (set-membership over collected arrays) ----------------

SEG_MUST = ("purchase", "signup")
SEG_MUST_NOT = "error"


def q_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment extraction: users who did ALL of SEG_MUST and never
    SEG_MUST_NOT — per-user sorted distinct event-type array (one
    partial-agg shuffle via collect_set) filtered with array_contains.
    The marketing-segment shape; the array also ships for downstream
    feature use. Scoped to the first 48h (over the full range every user
    exhausts all five event types and every segment is degenerate)."""
    ev = B.load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(FUNNEL_CUTOFF).cast("timestamp")
    )
    agg = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("event_types")
    )
    cond = ~F.array_contains("event_types", SEG_MUST_NOT)
    for m in SEG_MUST:
        cond = cond & F.array_contains("event_types", m)
    # event_types serialized to '|'-joined string: the external gate's
    # canonicalizer cannot hash array cells (pandas factorize on lists).
    return agg.filter(cond).select(
        "user_id",
        F.array_join("event_types", "|").alias("event_types"),
        F.size("event_types").alias("n_types"),
    )


SQL_USER_SEGMENTS = f"""
WITH agg AS (
  SELECT user_id,
         list_sort(list(DISTINCT event_type)) AS event_types
  FROM events
  WHERE ts < TIMESTAMP '{FUNNEL_CUTOFF}'
  GROUP BY user_id
)
SELECT user_id, array_to_string(event_types, '|') AS event_types,
       len(event_types) AS n_types
FROM agg
WHERE {" AND ".join(f"list_contains(event_types, '{m}')" for m in SEG_MUST)}
  AND NOT list_contains(event_types, '{SEG_MUST_NOT}')
"""


# --- behavioral user similarity (co-activity Jaccard) --------------------------

USER_SIM_TAU = 0.1  # hour-set Jaccard threshold (synthetic corpus is sparse)


USER_SIM_CHUNK = 256  # max users per (hour, chunk) join cell — skew cap


def q_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User pairs with Jaccard(co-active hours) ≥ τ — the collaborative-
    filtering neighbor block, via an inverted index on the activity hour:
    candidates come from an equi-join on the hour (never an all-pairs
    user product), shared counts from one groupBy, exact Jaccard from the
    broadcast per-user set sizes. The ngram-Jaccard machinery transplanted
    from text to behavior.

    Hot-hour skew guard (exact): an hour with H active users would land H²
    pair rows on ONE reducer key in the plain hr self-join. Instead each
    hour is split into ⌈H/USER_SIM_CHUNK⌉ chunks from its broadcast-joined
    density: side A keeps its own chunk, side B is replicated across the
    hour's chunks, and the join key becomes (hr, chunk) — identical pair
    multiset (each pair meets exactly once per shared hour), but per-reducer
    work is bounded by USER_SIM_CHUNK·H instead of H². Dense hours cost
    ~H²/chunk extra replicated shuffle rows — the same order as the pair
    rows the query must produce anyway."""
    ev = B.load_table(spark, sf_dir, "events")
    # persist: the distinct (user, hour) index feeds four consumers (sizes,
    # density, both join sides) — one dedup shuffle instead of four.
    # The extra repartition by hr (r13, guide §2.4): the density agg and
    # BOTH pair-join sides require clustering on hr (HashPartitioning(hr)
    # is a subset of the join's (hr, chk) keys, which Spark accepts), so
    # caching the index already hr-partitioned removes three downstream
    # exchanges of the corpus-scale index for one at build; only the
    # per-user size agg still reshuffles (user_id key).
    hrs = L.cache_by_key(
        ev.select("user_id", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .distinct(),
        "hr",
    )
    sizes = hrs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    # per-hour density → chunk count (hours are bounded — a year is 8760
    # keys — so the density table always broadcasts)
    hdf = hrs.groupBy("hr").agg(F.count(F.lit(1)).alias("hdf"))
    nchunks = F.greatest(
        F.lit(1), F.ceil(F.col("hdf") / F.lit(USER_SIM_CHUNK))
    ).cast("int")
    with_chunks = hrs.join(F.broadcast(hdf), "hr")
    side_a = with_chunks.select(
        F.col("user_id").alias("user_a"),
        "hr",
        F.pmod(F.xxhash64("user_id"), nchunks).alias("chk"),
    )
    side_b = with_chunks.select(
        F.col("user_id").alias("user_b"),
        "hr",
        F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("chk"),
    )
    shared = (
        side_a.join(side_b, ["hr", "chk"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.round(
        F.col("shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        6,
    )
    # no broadcast hint on sizes: per-user counts are O(users) — unbounded
    # at 100 TB; AQE broadcasts when the aggregate is actually small (r8)
    return (
        shared.join(
            sizes.select(F.col("user_id").alias("user_a"), F.col("n").alias("n_a")),
            "user_a",
        )
        .join(
            sizes.select(F.col("user_id").alias("user_b"), F.col("n").alias("n_b")),
            "user_b",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= USER_SIM_TAU)
        .select("user_a", "user_b", "shared", "jaccard")
    )


SQL_USER_SIMILARITY = f"""
WITH hrs AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM events
), sz AS (
  SELECT user_id, COUNT(*) AS n FROM hrs GROUP BY user_id
), sh AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS shared
  FROM hrs a JOIN hrs b ON a.hr = b.hr AND a.user_id < b.user_id
  GROUP BY 1, 2
)
SELECT s.user_a, s.user_b, s.shared,
       ROUND(s.shared::DOUBLE / (x.n + y.n - s.shared)::DOUBLE, 6) AS jaccard
FROM sh s JOIN sz x ON s.user_a = x.user_id JOIN sz y ON s.user_b = y.user_id
WHERE ROUND(s.shared::DOUBLE / (x.n + y.n - s.shared)::DOUBLE, 6)
        >= {USER_SIM_TAU}
"""


# --- per-user robust outlier stats (grouped-map applyInPandas) -----------------


def q_user_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.user_value_mad(B.load_table(spark, sf_dir, "events"))


SQL_USER_VALUE_MAD = f"""
WITH m AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
), d AS (
  SELECT e.user_id, m.med, abs(e.value - m.med) AS dev
  FROM events e JOIN m USING (user_id)
), md AS (
  SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY user_id
)
SELECT d.user_id, COUNT(*) AS n,
       MAX(d.med) AS median, MAX(md.mad) AS mad,
       (SUM(CASE WHEN d.dev > {R.MAD_K} * md.mad THEN 1 ELSE 0 END))::BIGINT
         AS n_outliers
FROM d JOIN md USING (user_id)
GROUP BY d.user_id
"""


# --- windowed distinct users ---------------------------------------------------

HOP_US = 3_600_000_000  # 1h hop
HOP_WINDOW_US = 2 * HOP_US  # 2h window → every event lands in 2 windows


def q_hopping_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per hopping window (2h window, 1h hop) — the
    windowed-distinct family (think 'rolling DAU'). Exact countDistinct:
    Catalyst plans the two-phase distinct expansion; swap
    approx_count_distinct for the sketch path at extreme cardinalities."""
    ev = B.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_active_users",
        )
    )


SQL_HOPPING_ACTIVE_USERS = f"""
WITH hits AS (
  -- FLOOR to the hop grid (r11 randomized-parity find): DuckDB //
  -- truncates toward zero, so a PRE-EPOCH event bucketed into the wrong
  -- hop (start 0) while Spark's window() floors (start -2h); the
  -- ((us % hop) + hop) % hop form floors for all signs and is
  -- byte-identical to the old truncation for us >= 0
  SELECT unnest([
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
             - {HOP_US},
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
         ]) AS window_start_us,
         user_id
  FROM events
  -- Spark's window() injects `ts IS NOT NULL`: NULL event-times never
  -- produce a window (r12 --nulls audit) — mirror the drop here
  WHERE ts IS NOT NULL
)
SELECT window_start_us, COUNT(DISTINCT user_id) AS n_active_users
FROM hits GROUP BY 1
"""


# --- windowed trending top-k ---------------------------------------------------

TRENDING_K = 3


def q_trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k event types per hopping window — the 'trending now' shape:
    map-side window expansion, one partial-agg shuffle for the
    (window, type) counts, WindowGroupLimit for the per-window rank."""
    ev = B.load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    from cdc_stream_processor_spark.operators.relational import top_k_per_group

    return top_k_per_group(
        counts,
        partition_by=["window_start_us"],
        order_by=[F.col("n_events").desc(), F.col("event_type").asc()],
        k=TRENDING_K,
        rank_col="rank",
    ).select("window_start_us", "event_type", "n_events", "rank")


SQL_TRENDING_EVENT_TYPES = f"""
WITH hits AS (
  -- FLOOR to the hop grid (r11 randomized-parity find): DuckDB //
  -- truncates toward zero, so a PRE-EPOCH event bucketed into the wrong
  -- hop (start 0) while Spark's window() floors (start -2h); the
  -- ((us % hop) + hop) % hop form floors for all signs and is
  -- byte-identical to the old truncation for us >= 0
  SELECT unnest([
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
             - {HOP_US},
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
         ]) AS window_start_us,
         event_type
  FROM events
  -- Spark's window() injects `ts IS NOT NULL` (r12 --nulls audit)
  WHERE ts IS NOT NULL
), c AS (
  SELECT window_start_us, event_type, COUNT(*) AS n_events
  FROM hits GROUP BY 1, 2
)
SELECT window_start_us, event_type, n_events, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start_us
                               ORDER BY n_events DESC, event_type) AS rank
  FROM c
)
WHERE rank <= {TRENDING_K}
"""


# --- winsorized outlier clipping ----------------------------------------------

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization: clip value to the [p5, p95] band of
    its group. Exact per-group percentiles reduce to a TINY bounds table
    (one row per event_type) that broadcasts back over the fact scan —
    clipping itself is map-only, the classic two-pass clean-up shape."""
    ev = B.load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo")).alias(
                "clipped"
            ),
            (
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
            ).alias("was_clipped"),
        )
    )


# DuckDB quantile_cont matches Spark's percentile() (linear interpolation).
SQL_WINSORIZE_VALUES = f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS lo,
         quantile_cont(value, {WINSOR_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       GREATEST(LEAST(e.value, b.hi), b.lo) AS clipped,
       (e.value < b.lo OR e.value > b.hi) AS was_clipped
FROM events e JOIN bounds b USING (event_type)
"""


# --- join-cardinality audit -----------------------------------------------------


def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-introspection report per FK edge: child/parent row
    counts, distinct key counts each side, the textbook cardinality
    estimate |L|·|R| / max(ndv_L, ndv_R), and the ACTUAL join output
    size — the drift between estimate and actual is what mis-plans
    joins at 100 TB.  Every number is one distributed aggregate; the
    estimate arithmetic is exact integers + one rounded division."""
    li = B.load_table(spark, sf_dir, "lineitem")
    orders = B.load_table(spark, sf_dir, "orders")
    cust = B.load_table(spark, sf_dir, "customer")

    def edge(
        name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str
    ) -> DataFrame:
        cstats = child.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.countDistinct(ck).alias("ndv_child"),
        )
        pstats = parent.agg(
            F.count(F.lit(1)).alias("n_parent"),
            F.countDistinct(pk).alias("ndv_parent"),
        )
        actual = (
            child.select(F.col(ck).alias("k"))
            .join(parent.select(F.col(pk).alias("k")), "k")
            .agg(F.count(F.lit(1)).alias("n_actual"))
        )
        return (
            cstats.crossJoin(pstats)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("fk_edge"),
                "n_child",
                "ndv_child",
                "n_parent",
                "ndv_parent",
                (
                    (F.col("n_child") * F.col("n_parent")).cast("double")
                    / F.greatest("ndv_child", "ndv_parent").cast("double")
                ).alias("est_rows"),
                "n_actual",
            )
        )

    return edge(
        "lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"
    ).unionByName(
        edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
    )


SQL_JOIN_CARDINALITY_AUDIT = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_child,
       (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)::BIGINT AS ndv_child,
       (SELECT COUNT(*) FROM orders)::BIGINT AS n_parent,
       (SELECT COUNT(DISTINCT o_orderkey) FROM orders)::BIGINT AS ndv_parent,
       ((SELECT COUNT(*) FROM lineitem) * (SELECT COUNT(*) FROM orders))
         ::DOUBLE
         / GREATEST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
                    (SELECT COUNT(DISTINCT o_orderkey) FROM orders))::DOUBLE
         AS est_rows,
       (SELECT COUNT(*) FROM lineitem l JOIN orders o
          ON l.l_orderkey = o.o_orderkey)::BIGINT AS n_actual
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders)::BIGINT,
       (SELECT COUNT(DISTINCT o_custkey) FROM orders)::BIGINT,
       (SELECT COUNT(*) FROM customer)::BIGINT,
       (SELECT COUNT(DISTINCT c_custkey) FROM customer)::BIGINT,
       ((SELECT COUNT(*) FROM orders) * (SELECT COUNT(*) FROM customer))
         ::DOUBLE
         / GREATEST((SELECT COUNT(DISTINCT o_custkey) FROM orders),
                    (SELECT COUNT(DISTINCT c_custkey) FROM customer))::DOUBLE,
       (SELECT COUNT(*) FROM orders o JOIN customer c
          ON o.o_custkey = c.c_custkey)::BIGINT
"""


# --- DAU/MAU stickiness + power-user concentration --------------------------------


def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.dau_mau_stickiness(B.load_table(spark, sf_dir, "events"))


SQL_DAU_MAU_STICKINESS = f"""
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // {R.DAY_US} AS day, user_id AS u
  FROM events
), dm AS (
  SELECT day, u, day // 30 AS month_idx FROM du
), dau AS (
  SELECT month_idx, day, COUNT(*) AS dau FROM dm GROUP BY 1, 2
), pmd AS (
  SELECT month_idx, COUNT(*) AS n_days, SUM(dau)::BIGINT AS dau_sum
  FROM dau GROUP BY 1
), mau AS (
  SELECT month_idx, COUNT(*) AS mau
  FROM (SELECT DISTINCT month_idx, u FROM dm) GROUP BY 1
)
SELECT p.month_idx, p.n_days, m.mau,
       p.dau_sum::DOUBLE / p.n_days::DOUBLE AS mean_dau,
       p.dau_sum::DOUBLE / p.n_days::DOUBLE / m.mau::DOUBLE AS stickiness
FROM pmd p JOIN mau m USING (month_idx)
ORDER BY month_idx
"""


def q_power_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.power_user_share(B.load_table(spark, sf_dir, "events"))


SQL_POWER_USER_SHARE = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY user_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_ev DESC, user_id ASC) - 1 AS rk
  FROM per_user
), totals AS (
  SELECT COUNT(*) AS n_users, SUM(n_ev)::BIGINT AS total_events
  FROM per_user
), top AS (
  SELECT COUNT(*) AS n_top, SUM(n_ev)::BIGINT AS top_events
  FROM ranked, totals
  WHERE rk < (n_users * {R.POWER_USER_PCT}) // 100
)
SELECT n_users, n_top, top_events, total_events,
       top_events::DOUBLE / total_events::DOUBLE AS share
FROM totals, top
"""


# --- month-over-month revenue growth ---------------------------------------------


def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with MoM and YoY growth — the standard reporting
    rollup: decimal-exact monthly sums, lag(1)/lag(12) on the month-scale
    table, growth = (cur − prev)/prev as single-rounded divisions (NULL
    where the lag has no row, and NULL where the previous month's revenue
    is exactly 0.0 — try_divide matches DuckDB's NULL-on-zero-divisor,
    where plain `/` under ANSI would kill the job on a zero-revenue
    month).  Lags are ROW-based (both engines): exact
    month alignment assumes the dense orders calendar this data has —
    spine-fill first if months can be absent."""
    orders = B.load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("month_idx")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month_idx")
    prev1 = F.lag("revenue", 1).over(w)
    prev12 = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month_idx",
        "revenue",
        F.round(F.try_divide(F.col("revenue") - prev1, prev1), 6)
        .alias("mom_growth"),
        F.round(F.try_divide(F.col("revenue") - prev12, prev12), 6)
        .alias("yoy_growth"),
    ).orderBy("month_idx")


SQL_REVENUE_MOM_GROWTH = """
WITH monthly AS (
  SELECT (EXTRACT(year FROM o_orderdate) * 12
          + EXTRACT(month FROM o_orderdate) - 1)::BIGINT AS month_idx,
         SUM(o_totalprice::DECIMAL(18,4))::DOUBLE AS revenue
  FROM orders GROUP BY 1
)
SELECT month_idx, revenue,
       ROUND((revenue - LAG(revenue, 1) OVER w)
             / LAG(revenue, 1) OVER w, 6) AS mom_growth,
       ROUND((revenue - LAG(revenue, 12) OVER w)
             / LAG(revenue, 12) OVER w, 6) AS yoy_growth
FROM monthly
WINDOW w AS (ORDER BY month_idx)
ORDER BY month_idx
"""


# --- LTV cohort curve -------------------------------------------------------------


def q_ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.ltv_cohort_curve(B.load_table(spark, sf_dir, "orders"))


SQL_LTV_COHORT_CURVE = """
WITH with_m AS (
  SELECT o_custkey,
         (EXTRACT(year FROM o_orderdate) * 12
          + EXTRACT(month FROM o_orderdate) - 1)::BIGINT AS mi,
         o_totalprice::DECIMAL(18,4) AS rev
  FROM orders
), firsts AS (
  SELECT o_custkey, MIN(mi) AS m0 FROM with_m GROUP BY o_custkey
), sized AS (
  SELECT m0 AS cohort_month, COUNT(*) AS n_customers FROM firsts GROUP BY 1
), per_cell AS (
  SELECT f.m0 AS cohort_month, w.mi - f.m0 AS months_since,
         SUM(w.rev) AS rev_m
  FROM with_m w JOIN firsts f USING (o_custkey)
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_month, months_since,
         SUM(rev_m) OVER (PARTITION BY cohort_month ORDER BY months_since
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rev
  FROM per_cell
)
SELECT c.cohort_month, c.months_since, s.n_customers,
       c.cum_rev::DOUBLE AS cum_revenue,
       ROUND(c.cum_rev::DOUBLE / s.n_customers::DOUBLE, 6) AS ltv
FROM cum c JOIN sized s USING (cohort_month)
ORDER BY cohort_month, months_since
"""


# --- basket-size distribution -----------------------------------------------------


def q_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of order basket sizes (distinct parts per order) with
    each size's share of total revenue — two integer-keyed aggregations
    plus decimal-exact revenue; the scan is touched once."""
    li = B.load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("basket_size"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).cast("decimal(18,4)")
        ).alias("rev"),
    )
    return (
        per_order.groupBy("basket_size")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("basket_size")
    )


SQL_BASKET_SIZE_DISTRIBUTION = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_partkey) AS basket_size,
         SUM(ROUND(l_extendedprice * (1 - l_discount), 4)::DECIMAL(18,4))
           AS rev
  FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size, COUNT(*) AS n_orders, SUM(rev)::DOUBLE AS revenue
FROM per_order GROUP BY basket_size
ORDER BY basket_size
"""


# --- referential-integrity audit ----------------------------------------------


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table foreign-key audit over the star schema: for each
    declared FK edge, total rows vs orphaned rows (left anti join against
    the parent). Anti joins broadcast the parent key sets where small;
    one row per edge — the referential-integrity report every warehouse
    runs after ingest."""
    li = B.load_table(spark, sf_dir, "lineitem")
    orders = B.load_table(spark, sf_dir, "orders")
    cust = B.load_table(spark, sf_dir, "customer")
    nation = B.load_table(spark, sf_dir, "nation")

    def edge(
        name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str
    ) -> DataFrame:
        # fully declarative — no driver-side count() actions; each edge is
        # one row built from two aggregates Catalyst runs distributed
        total = child.agg(F.count(F.lit(1)).alias("n_rows"))
        orphans = (
            child.select(F.col(ck).alias("k"))
            .join(parent.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return total.crossJoin(orphans).select(
            F.lit(name).alias("fk_edge"), "n_rows", "n_orphans"
        )

    return (
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(
            edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
        )
        .unionByName(
            edge(
                "customer.c_nationkey->nation",
                cust,
                "c_nationkey",
                nation,
                "n_nationkey",
            )
        )
    )


SQL_FK_INTEGRITY_AUDIT = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem) AS n_rows,
       (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o
         ON l.l_orderkey = o.o_orderkey) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders r ANTI JOIN customer c
         ON r.o_custkey = c.c_custkey)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c ANTI JOIN nation n
         ON c.c_nationkey = n.n_nationkey)
"""


# --- hopping (sliding) window aggregation (HOP_US defined above) --------------


def q_hopping_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (2h window, 1h hop) — the overlapping
    twin of the tumbling velocity window, same F.window operator the
    streaming pipelines use. Spark explodes each event into its
    window-count copies map-side, then one partial-agg shuffle."""
    ev = B.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            R.dsum("value").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SQL_HOPPING_EVENT_COUNTS = f"""
WITH hits AS (
  -- FLOOR to the hop grid (r11 randomized-parity find): DuckDB //
  -- truncates toward zero, so a PRE-EPOCH event bucketed into the wrong
  -- hop (start 0) while Spark's window() floors (start -2h); the
  -- ((us % hop) + hop) % hop form floors for all signs and is
  -- byte-identical to the old truncation for us >= 0
  SELECT unnest([
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
             - {HOP_US},
           epoch_us(ts) - ((epoch_us(ts) % {HOP_US}) + {HOP_US}) % {HOP_US}
         ]) AS window_start_us,
         event_type, value
  FROM events
  -- Spark's window() injects `ts IS NOT NULL` (r12 --nulls audit)
  WHERE ts IS NOT NULL
)
SELECT window_start_us, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM hits
GROUP BY 1, 2
"""


# --- interval-overlap join (concurrent sessions) ------------------------------

CONC_CUTOFF_US = 1_704_240_000_000_000  # 2024-01-03 UTC in µs: 48h slice


def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session pairs whose [start,end] intervals overlap —
    interval-overlap join binned to 6h epochs so it runs as a hash
    equi-join (never a nested-loop range scan; asserted on the plan)."""
    # persist: both self-join sides read the same sessionization (a
    # per-user window shuffle) — one materialization instead of two
    s = (
        R.sessionize(B.load_table(spark, sf_dir, "events"))
        .filter(F.col("start_us") < CONC_CUTOFF_US)
        .select("user_id", "session_id", "start_us", "end_us")
        .persist()
    )
    a = s.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("session_a"),
        F.col("start_us").alias("start_a"),
        F.col("end_us").alias("end_a"),
    )
    b = s.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("session_b"),
        F.col("start_us").alias("start_b"),
        F.col("end_us").alias("end_b"),
    )
    joined = R.interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b",
        extra_cond=F.col("user_a") < F.col("user_b"),
    )
    return joined.select(
        "user_a",
        "session_a",
        "user_b",
        "session_b",
        (
            F.least("end_a", "end_b") - F.greatest("start_a", "start_b")
        ).alias("overlap_us"),
    )


def _concurrent_sessions_sql() -> str:
    return f"""
WITH s AS ({SQL_USER_SESSIONS.strip()})
SELECT a.user_id AS user_a, a.session_id AS session_a,
       b.user_id AS user_b, b.session_id AS session_b,
       LEAST(a.end_us, b.end_us) - GREATEST(a.start_us, b.start_us)
         AS overlap_us
FROM s a JOIN s b
  ON a.user_id < b.user_id
 AND a.start_us <= b.end_us AND b.start_us <= a.end_us
WHERE a.start_us < {CONC_CUTOFF_US} AND b.start_us < {CONC_CUTOFF_US}
"""


# --- OHLC bars (first/last/extreme per bucket) --------------------------------


def q_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily OHLC bars over the event value stream: open/close via
    max_by/min_by on the (ts, event_id) sequence — ONE shuffle with full
    map-side partial aggregation (min_by/max_by combine associatively),
    never a window sort. The timeseries-engine resample primitive."""
    ev = B.load_table(spark, sf_dir, "events")
    # scalar total-order key (µs·10⁸ + event_id, exact in DECIMAL(38,0)):
    # DuckDB's arg_min/arg_max take scalar keys, so both engines order by
    # the identical number; Spark's min_by happily orders decimals
    seq = (
        F.unix_micros(F.col("ts")).cast("decimal(38,0)") * 100_000_000
        + F.col("event_id")
    )
    return (
        ev.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {R.DAY_US}").alias("day_idx"),
            F.col("value"),
            seq.alias("_seq"),
        )
        .groupBy("user_id", "day_idx")
        .agg(
            F.min_by("value", F.col("_seq")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("_seq")).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            R.dsum("value").alias("volume"),
        )
    )


SQL_DAILY_OHLC = f"""
SELECT user_id, epoch_us(ts) // {R.DAY_US} AS day_idx,
       arg_min(value, (epoch_us(ts)::HUGEINT * 100000000 + event_id)) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, (epoch_us(ts)::HUGEINT * 100000000 + event_id)) AS close,
       COUNT(*) AS n_ticks,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
"""


# --- user journey paths (ordered sequence aggregation) ------------------------

PATH_MAX_STEPS = 12  # cap the rendered path; full length still reported


def q_user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type journey ('signup>view>click>…') — the
    secondary-sort pattern without RDDs: collect_list of (ts, event_id,
    type) structs, sort_array for a deterministic total order (struct
    comparison = lexicographic on fields), then a map-side slice/join.
    ONE shuffle (the groupBy), partial aggregation map-side; no window,
    no per-user sort of the whole table."""
    ev = B.load_table(spark, sf_dir, "events")
    packed = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type")
    )
    agg = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(packed)).alias("seq"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    return agg.select(
        "user_id",
        "n_steps",
        F.array_join(
            F.slice(F.col("seq.event_type"), 1, PATH_MAX_STEPS), ">"
        ).alias("path"),
    )


SQL_USER_EVENT_PATHS = f"""
WITH ordered AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq,
         COUNT(*) AS n_steps
  FROM events GROUP BY user_id
)
SELECT user_id, n_steps,
       -- both engines SKIP NULL steps (and their delimiters) mid-path;
       -- the all-NULL path is '' in Spark's array_join but NULL in
       -- DuckDB's array_to_string — coalesce the one divergent case
       -- (r12 --nulls audit)
       COALESCE(array_to_string(seq[1:{PATH_MAX_STEPS}], '>'), '') AS path
FROM ordered
"""


# --- seasonal decomposition of the daily series ---------------------------------


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.seasonal_decompose(B.load_table(spark, sf_dir, "events"))


SQL_SEASONAL_DECOMPOSE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), spine AS (
  SELECT s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  LEFT JOIN daily d USING (day)
), win AS (
  SELECT day, cnt,
         SUM(cnt) OVER w::BIGINT AS sum_w,
         COUNT(*) OVER w AS cw
  FROM spine
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {R.TREND_HALF} PRECEDING
                        AND {R.TREND_HALF} FOLLOWING)
), detr AS (
  SELECT day, cnt, sum_w,
         {R.SEASON_PERIOD} * cnt - sum_w AS detr_num,
         -- pmod form (r11 temporal divergence audit): DuckDB %
         -- keeps the dividend's sign, so pre-epoch (negative) day
         -- indices landed in dow buckets -6..-1 while the engine's
         -- pmod keeps 0..6 — up to 13 distinct buckets on a
         -- mixed-sign calendar and different seasonal means
         ((day % {R.SEASON_PERIOD}) + {R.SEASON_PERIOD})
           % {R.SEASON_PERIOD} AS dow
  FROM win WHERE cw = {R.SEASON_PERIOD}
), per_dow AS (
  SELECT dow, SUM(detr_num)::BIGINT AS s_num, COUNT(*) AS n_dow
  FROM detr GROUP BY dow
)
SELECT d.day, d.cnt,
       d.sum_w::DOUBLE / {float(R.SEASON_PERIOD)} AS trend,
       p.s_num::DOUBLE / ({R.SEASON_PERIOD} * p.n_dow)::DOUBLE AS seasonal,
       d.cnt - d.sum_w::DOUBLE / {float(R.SEASON_PERIOD)}
             - p.s_num::DOUBLE / ({R.SEASON_PERIOD} * p.n_dow)::DOUBLE
         AS residual
FROM detr d JOIN per_dow p USING (dow)
"""


# --- seasonality-aware anomaly flags -------------------------------------------


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.seasonal_anomalies(B.load_table(spark, sf_dir, "events"))


SQL_SEASONAL_ANOMALIES = f"""
WITH dec AS ({{seasonal}}),
med AS (SELECT MEDIAN(residual) AS med FROM dec),
dev AS (
  SELECT day, cnt, residual, ABS(residual - med) AS dev FROM dec, med
), mad AS (SELECT MEDIAN(dev) AS mad FROM dev)
SELECT day, cnt, residual, dev, dev > {R.SEAS_ANOM_K} * mad AS is_anomaly
FROM dev, mad
ORDER BY day
""".format(seasonal=SQL_SEASONAL_DECOMPOSE.strip())


# --- funnel latency quantiles ---------------------------------------------------


def q_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.conversion_lag_quantiles(B.load_table(spark, sf_dir, "events"))


SQL_CONVERSION_LAG_QUANTILES = f"""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{R.LAG_FROM_TYPE}'
                  THEN epoch_us(ts) END) AS f_us
  FROM events
  WHERE event_type IN ('{R.LAG_FROM_TYPE}', '{R.LAG_TO_TYPE}')
  GROUP BY user_id
  HAVING f_us IS NOT NULL
), per_user AS (
  SELECT e.user_id, (MIN(epoch_us(e.ts)) - ANY_VALUE(f.f_us)) // 1000000
           AS lag_s
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.event_type = '{R.LAG_TO_TYPE}' AND epoch_us(e.ts) >= f.f_us
  GROUP BY e.user_id
), nf AS (SELECT COUNT(*) AS n_from FROM firsts)
-- ungrouped aggregate + scalar subquery (r11 divergence audit): the
-- former GROUP BY n_from emitted ZERO rows when nobody converts, while
-- the engine always emits its one report row (n_converted=0, NULL
-- quantiles)
SELECT (SELECT n_from FROM nf)::BIGINT AS n_from,
       COUNT(*) AS n_converted,
       ROUND(quantile_cont(lag_s, 0.25), 6) AS p25_s,
       ROUND(quantile_cont(lag_s, 0.5), 6) AS p50_s,
       ROUND(quantile_cont(lag_s, 0.75), 6) AS p75_s,
       ROUND(quantile_cont(lag_s, 0.9), 6) AS p90_s
FROM per_user
"""


# --- inter-event burstiness ------------------------------------------------------


def q_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.user_burstiness(B.load_table(spark, sf_dir, "events"))


SQL_USER_BURSTINESS = f"""
WITH gaps AS (
  SELECT user_id,
         ((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000)
           ::DECIMAL(38,0) AS g
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
), agg AS (
  SELECT user_id, COUNT(g) AS n_gaps, SUM(g) AS s, SUM(g * g) AS ss
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(g) >= {R.BURST_MIN_GAPS}
), scored AS (
  SELECT user_id, n_gaps,
         ROUND(s::DOUBLE / n_gaps::DOUBLE, 6) AS mean_gap_s,
         ROUND(SQRT((n_gaps::DECIMAL(38,0) * ss - s * s)::DOUBLE)
               / n_gaps::DOUBLE, 6) AS std_gap_s,
         CASE WHEN SQRT((n_gaps::DECIMAL(38,0) * ss - s * s)::DOUBLE)
                   / n_gaps::DOUBLE
                 + s::DOUBLE / n_gaps::DOUBLE != 0.0
              THEN (SQRT((n_gaps::DECIMAL(38,0) * ss - s * s)::DOUBLE)
                    / n_gaps::DOUBLE - s::DOUBLE / n_gaps::DOUBLE)
                 / (SQRT((n_gaps::DECIMAL(38,0) * ss - s * s)::DOUBLE)
                    / n_gaps::DOUBLE + s::DOUBLE / n_gaps::DOUBLE)
         END AS burstiness
  FROM agg
)
SELECT * FROM scored
ORDER BY burstiness DESC, user_id ASC
LIMIT {R.BURST_TOP_K}
"""


# --- behavioral path scoring -----------------------------------------------------


def q_user_path_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.user_path_score(B.load_table(spark, sf_dir, "events"))


SQL_USER_PATH_SCORE = f"""
WITH trans AS (
  SELECT user_id,
         LAG(event_type) OVER w AS t_from,
         event_type AS t_to
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
  QUALIFY t_from IS NOT NULL
), cab AS (
  SELECT t_from, t_to, COUNT(*) AS n_ab FROM trans GROUP BY 1, 2
), ca AS (
  SELECT t_from, COUNT(*) AS n_a FROM trans GROUP BY 1
), model AS (
  SELECT cab.t_from, cab.t_to,
         FLOOR(n_ab::DOUBLE * {float(R.PATH_SCALE)} / n_a::DOUBLE) AS sp
  FROM cab JOIN ca USING (t_from)
)
SELECT t.user_id, COUNT(*) AS n_transitions,
       SUM(sp)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS mean_scaled_p
FROM trans t JOIN model m ON t.t_from = m.t_from AND t.t_to = m.t_to
GROUP BY t.user_id
ORDER BY t.user_id
"""


# --- per-group seasonal decomposition --------------------------------------------


def q_seasonal_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.seasonal_decompose_by_group(B.load_table(spark, sf_dir, "events"))


SQL_SEASONAL_BY_TYPE = f"""
WITH daily AS (
  SELECT event_type AS grp, epoch_us(ts) // {R.DAY_US} AS day,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT s.grp, s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT grp, unnest(generate_series(lo, hi)) AS day
        FROM (SELECT grp, MIN(day) AS lo, MAX(day) AS hi
              FROM daily GROUP BY grp)) s
  LEFT JOIN daily d ON s.grp = d.grp AND s.day = d.day
), win AS (
  SELECT grp, day, cnt,
         SUM(cnt) OVER w::BIGINT AS sum_w,
         COUNT(*) OVER w AS cw
  FROM spine
  WINDOW w AS (PARTITION BY grp ORDER BY day
               ROWS BETWEEN {R.TREND_HALF} PRECEDING
                        AND {R.TREND_HALF} FOLLOWING)
), detr AS (
  SELECT grp, day, cnt, sum_w,
         {R.SEASON_PERIOD} * cnt - sum_w AS detr_num,
         -- pmod form (r11 temporal divergence audit): DuckDB %
         -- keeps the dividend's sign, so pre-epoch (negative) day
         -- indices landed in dow buckets -6..-1 while the engine's
         -- pmod keeps 0..6 — up to 13 distinct buckets on a
         -- mixed-sign calendar and different seasonal means
         ((day % {R.SEASON_PERIOD}) + {R.SEASON_PERIOD})
           % {R.SEASON_PERIOD} AS dow
  FROM win WHERE cw = {R.SEASON_PERIOD}
), per_dow AS (
  SELECT grp, dow, SUM(detr_num)::BIGINT AS s_num, COUNT(*) AS n_dow
  FROM detr GROUP BY grp, dow
)
SELECT d.grp AS event_type, d.day, d.cnt,
       d.sum_w::DOUBLE / {float(R.SEASON_PERIOD)} AS trend,
       p.s_num::DOUBLE / ({R.SEASON_PERIOD} * p.n_dow)::DOUBLE AS seasonal,
       d.cnt - d.sum_w::DOUBLE / {float(R.SEASON_PERIOD)}
             - p.s_num::DOUBLE / ({R.SEASON_PERIOD} * p.n_dow)::DOUBLE
         AS residual
FROM detr d JOIN per_dow p ON d.grp = p.grp AND d.dow = p.dow
ORDER BY event_type, day
"""


# --- rolling-origin forecast backtest --------------------------------------------


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.forecast_backtest(B.load_table(spark, sf_dir, "orders"))


SQL_FORECAST_BACKTEST = f"""
WITH monthly AS (
  SELECT (EXTRACT(year FROM o_orderdate) * 12
          + EXTRACT(month FROM o_orderdate) - 1)::BIGINT AS mi,
         SUM((o_totalprice::DECIMAL(18,4) * 10000)::DECIMAL(38,0))
           ::DECIMAL(38,0) AS ys
  FROM orders GROUP BY 1
), idx AS (
  SELECT mi, ys,
         (ROW_NUMBER() OVER (ORDER BY mi) - 1)::DECIMAL(38,0) AS x
  FROM monthly
), pre AS (
  SELECT mi, ys, x,
         COUNT(*) OVER w::DECIMAL(38,0) AS n,
         SUM(x) OVER w AS sx,
         SUM(ys) OVER w AS sy,
         SUM(x * ys) OVER w AS sxy,
         SUM(x * x) OVER w AS sxx
  FROM idx
  WINDOW w AS (ORDER BY mi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT mi AS month_idx,
       ys::DOUBLE / 10000.0 AS actual,
       ROUND(((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                             / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
              / n::DOUBLE
              + ((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE) * x::DOUBLE)
             / 10000.0, 4) AS predicted,
       ROUND(ABS(ys::DOUBLE
                 - ((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                                   / (n * sxx - sx * sx)::DOUBLE)
                     * sx::DOUBLE) / n::DOUBLE
                    + ((n * sxy - sx * sy)::DOUBLE
                       / (n * sxx - sx * sx)::DOUBLE) * x::DOUBLE))
             / ys::DOUBLE, 6) AS ape
FROM pre
WHERE n >= {R.BACKTEST_MIN_TRAIN}
ORDER BY month_idx
"""


# --- daily-series autocorrelation ----------------------------------------------


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.acf_daily(B.load_table(spark, sf_dir, "events"))


SQL_ACF_DAILY = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), spine AS (
  SELECT s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  LEFT JOIN daily d USING (day)
), tot AS (
  SELECT COUNT(*) AS n, SUM(cnt)::BIGINT AS s FROM spine
), a AS (
  SELECT day, (n * cnt - s)::DECIMAL(38,0) AS a FROM spine, tot
), den AS (
  SELECT SUM(a * a) AS den FROM a
)
-- LEFT JOIN the lagged partner (r11 divergence audit): the former inner
-- join emitted ZERO rows for any lag with no pairs (a single-day series
-- has none), while the engine always reports all {R.ACF_MAX_LAG} lag
-- rows (n_pairs 0, NULL acf)
SELECT lag, COUNT(y.day) AS n_pairs,
       SUM(x.a * y.a)::DOUBLE / MAX(den.den)::DOUBLE AS acf
FROM a x
CROSS JOIN (SELECT unnest(generate_series(1, {R.ACF_MAX_LAG})) AS lag)
LEFT JOIN a y ON x.day + lag = y.day
CROSS JOIN den
GROUP BY lag
ORDER BY lag
"""


# --- CUSUM changepoint scan -----------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.cusum_changepoint(B.load_table(spark, sf_dir, "events"))


SQL_CUSUM_CHANGEPOINT = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), spine AS (
  SELECT s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  LEFT JOIN daily d USING (day)
), pref AS (
  SELECT day, cnt,
         SUM(cnt) OVER (ORDER BY day)::DECIMAL(38,0) AS p,
         ROW_NUMBER() OVER (ORDER BY day) AS t
  FROM spine
), tot AS (
  SELECT COUNT(*) AS n, SUM(cnt)::DECIMAL(38,0) AS s FROM spine
)
SELECT day, cnt, ABS(n * p - t * s)::DOUBLE AS cusum_abs
FROM pref, tot
ORDER BY ABS(n * p - t * s) DESC, day ASC
LIMIT {R.CUSUM_TOP_K}
"""


# --- 2-D skyline (Pareto frontier) ---------------------------------------------


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.skyline_orders(B.load_table(spark, sf_dir, "orders"))


# The oracle uses the naive level-window formulation (fine single-node);
# the Spark side reaches the same rows through the bucket-pruned plan.
SQL_SKYLINE_ORDERS = """
WITH lv AS (
  SELECT o_totalprice AS price, MAX(o_orderdate) AS maxd
  FROM orders GROUP BY 1
), mdl AS (
  SELECT price,
         MAX(maxd) OVER (ORDER BY price DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS md
  FROM lv
)
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders JOIN mdl ON o_totalprice = mdl.price
WHERE md IS NULL OR o_orderdate >= md
ORDER BY o_totalprice DESC, o_orderkey ASC
"""


# --- event-type daily-series correlation ----------------------------------------


def q_event_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.event_type_correlation(B.load_table(spark, sf_dir, "events"))


SQL_EVENT_TYPE_CORRELATION = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, event_type AS et, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT s.day, t.et, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  CROSS JOIN (SELECT DISTINCT et FROM daily) t
  LEFT JOIN daily d ON s.day = d.day AND t.et = d.et
), pairs AS (
  SELECT x.day, x.et AS type_a, y.et AS type_b,
         x.cnt::DECIMAL(38,0) AS xa, y.cnt::DECIMAL(38,0) AS xb
  FROM spine x JOIN spine y ON x.day = y.day AND x.et < y.et
), agg AS (
  SELECT type_a, type_b,
         COUNT(*)::DECIMAL(38,0) AS n,
         SUM(xa) AS sx, SUM(xb) AS sy,
         SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, n::BIGINT AS n_days,
       (n * sxy - sx * sy)::DOUBLE
         / (SQRT((n * sxx - sx * sx)::DOUBLE)
            * SQRT((n * syy - sy * sy)::DOUBLE)) AS corr
FROM agg
ORDER BY type_a, type_b
"""


# --- rolling 7-day median ------------------------------------------------------


def q_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rolling_median_daily(B.load_table(spark, sf_dir, "events"))


SQL_ROLLING_MEDIAN_DAILY = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), spine AS (
  SELECT s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  LEFT JOIN daily d USING (day)
), exploded AS (
  SELECT day + off AS day, cnt
  FROM spine,
       (SELECT unnest(generate_series(-{R.ROLL_MED_HALF},
                                      {R.ROLL_MED_HALF})) AS off)
)
SELECT day, MEDIAN(cnt)::DOUBLE AS rolling_median
FROM exploded
GROUP BY day
HAVING COUNT(*) = {2 * R.ROLL_MED_HALF + 1}
ORDER BY day
"""


# --- market-basket part affinity ------------------------------------------------


def q_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.part_affinity(B.load_table(spark, sf_dir, "lineitem"))


SQL_PART_AFFINITY = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {R.AFFINITY_MIN_SUPPORT}
), pc AS (
  SELECT l_partkey AS p, COUNT(*) AS n_p FROM items GROUP BY 1
), tot AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
)
SELECT part_a, part_b, n_ab,
       (n_ab * n_orders)::DOUBLE / (pa.n_p * pb.n_p)::DOUBLE AS lift
FROM pair
JOIN pc pa ON part_a = pa.p
JOIN pc pb ON part_b = pb.p, tot
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT {R.AFFINITY_TOP_K}
"""


# --- Kaplan–Meier user survival --------------------------------------------------


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.survival_curve(B.load_table(spark, sf_dir, "events"))


SQL_SURVIVAL_CURVE = f"""
WITH pu AS (
  SELECT user_id,
         epoch_us(MAX(ts)) // {R.DAY_US} AS last_day,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // {R.DAY_US} AS t_days
  FROM events GROUP BY user_id
), horizon AS (
  SELECT epoch_us(MAX(ts)) // {R.DAY_US} AS max_day FROM events
), marked AS (
  -- subjects with no valid event time have no lifetime (r12 --nulls
  -- audit): excluded on both engines
  SELECT t_days,
         last_day >= max_day - {R.SURVIVAL_CENSOR_DAYS} AS censored
  FROM pu, horizon
  WHERE t_days IS NOT NULL
), lt AS (
  SELECT t_days,
         SUM(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS n_events,
         SUM(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT AS n_censored
  FROM marked GROUP BY t_days
), risk AS (
  SELECT t_days, n_events, n_censored,
         SUM(n_events + n_censored) OVER (
           ORDER BY t_days ASC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         )::BIGINT AS n_risk
  FROM lt
), packed AS (
  SELECT LIST(struct_pack(t_days := t_days, n_risk := n_risk,
                          n_events := n_events, n_censored := n_censored)
              ORDER BY t_days ASC) AS rows
  FROM risk
), z AS (
  SELECT unnest(rows) AS r,
         unnest(list_transform(generate_series(1, len(rows)), i ->
           list_reduce(
             list_prepend(1.0::DOUBLE,
               list_transform(rows[1:i], x ->
                 1.0::DOUBLE - x.n_events::DOUBLE / x.n_risk::DOUBLE)),
             (acc, f) -> acc * f))) AS survival
  FROM packed
)
SELECT r.t_days AS t_days, r.n_risk AS n_risk, r.n_events AS n_events,
       r.n_censored AS n_censored, survival
FROM z
ORDER BY t_days
"""


# --- A/B two-proportion z-test ---------------------------------------------------


def q_ab_test_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.ab_test_zscores(B.load_table(spark, sf_dir, "events"))


SQL_AB_TEST_ZSCORES = f"""
WITH per_user AS (
  SELECT user_id,
         (SUM(CASE WHEN event_type = '{R.AB_CONVERSION_TYPE}'
                   THEN 1 ELSE 0 END) >= {R.AB_CONVERSION_MIN})::INT
           AS converted
  FROM events GROUP BY user_id
), armed AS (
  SELECT user_id % 2 AS arm, converted FROM per_user
), agg AS (
  SELECT
    COUNT(*) FILTER (arm = 0) AS n_a,
    COUNT(*) FILTER (arm = 1) AS n_b,
    SUM(converted) FILTER (arm = 0)::BIGINT AS conv_a,
    SUM(converted) FILTER (arm = 1)::BIGINT AS conv_b
  FROM armed
)
SELECT n_a, n_b, conv_a, conv_b,
       conv_a::DOUBLE / n_a::DOUBLE AS rate_a,
       conv_b::DOUBLE / n_b::DOUBLE AS rate_b,
       CASE WHEN SQRT(((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
              * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
              * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) != 0.0
       THEN (conv_a::DOUBLE / n_a::DOUBLE - conv_b::DOUBLE / n_b::DOUBLE)
       / SQRT(((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
              * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
              * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) END AS z_score
FROM agg
"""


# --- declarative expectation suite ----------------------------------------------


def q_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.expectation_suite(B.load_table(spark, sf_dir, "events"))


SQL_EXPECTATION_SUITE = f"""
WITH agg AS (
  SELECT
    SUM((event_id IS NULL)::BIGINT)::BIGINT AS v_event_id_not_null,
    SUM((user_id IS NULL)::BIGINT)::BIGINT AS v_user_id_not_null,
    SUM((ts IS NULL)::BIGINT)::BIGINT AS v_ts_not_null,
    SUM((value IS NOT NULL AND NOT (value BETWEEN 0.0
         AND {R.EXPECT_VALUE_MAX}))::BIGINT)::BIGINT AS v_value_in_range,
    SUM((EXTRACT(year FROM ts) < 2000
         OR EXTRACT(year FROM ts) >= 2100)::BIGINT)::BIGINT
      AS v_ts_in_century,
    SUM((event_type IS NULL OR TRIM(event_type) = '')::BIGINT)::BIGINT
      AS v_event_type_not_blank,
    SUM((props IS NOT NULL AND NOT json_valid(props))::BIGINT)::BIGINT
      AS v_props_valid_json,
    (COUNT(event_id) - COUNT(DISTINCT event_id))::BIGINT AS v_dup
  FROM events
)
SELECT "check", n_violations = 0 AS passed, n_violations FROM (
  SELECT unnest(['event_id_not_null', 'user_id_not_null', 'ts_not_null',
                 'value_in_range', 'ts_in_century', 'event_type_not_blank',
                 'props_valid_json', 'event_id_unique']) AS "check",
         unnest([v_event_id_not_null, v_user_id_not_null, v_ts_not_null,
                 v_value_in_range, v_ts_in_century, v_event_type_not_blank,
                 v_props_valid_json, v_dup]) AS n_violations
  FROM agg)
ORDER BY "check"
"""


# --- time-series pattern (motif) matching ----------------------------------------


def q_pattern_match_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.pattern_match_daily(B.load_table(spark, sf_dir, "events"))


SQL_PATTERN_MATCH_DAILY = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), spine AS (
  SELECT s.day, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  LEFT JOIN daily d USING (day)
), win AS (
  SELECT day - off AS start, off, cnt::DECIMAL(38,0) AS x
  FROM spine,
       (SELECT unnest(generate_series(0, {R.PATTERN_W - 1})) AS off)
), fullw AS (
  SELECT start, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
  FROM win GROUP BY start HAVING COUNT(*) = {R.PATTERN_W}
), qstart AS (
  SELECT MAX(day) - {R.PATTERN_W - 1} AS qs FROM spine
), q AS (
  SELECT off, x AS qx FROM win, qstart WHERE start = qs
), joint AS (
  SELECT start, SUM(w.x * q.qx) AS sxq
  FROM win w JOIN q USING (off) GROUP BY start
), qm AS (
  SELECT SUM(qx) AS sq, SUM(qx * qx) AS sqq FROM q
)
SELECT start AS start_day,
       ({R.PATTERN_W}::DECIMAL(38,0) * sxq - sx * sq)::DOUBLE
         / (SQRT(({R.PATTERN_W}::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE)
            * SQRT(({R.PATTERN_W}::DECIMAL(38,0) * sqq - sq * sq)::DOUBLE))
         AS corr
FROM fullw JOIN joint USING (start), qm, qstart
WHERE start <= qs - {R.PATTERN_W}
  AND ({R.PATTERN_W}::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE != 0.0
ORDER BY corr DESC, start_day ASC
LIMIT {R.PATTERN_TOP_K}
"""


# --- CDC sequence-gap audit -------------------------------------------------------


def q_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata id sequences are dense (an audit would prove
    completeness with 0 rows — a vacuous hash), so the registered query
    audits a deterministically LOSSY channel: every 97th event dropped.
    The operator itself is input-agnostic."""
    ev = B.load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 97 != 0
    )
    return R.sequence_gap_audit(ev)


SQL_SEQUENCE_GAP_AUDIT = """
WITH ids AS (
  SELECT DISTINCT event_id AS id FROM events WHERE event_id % 97 != 0
), lagged AS (
  SELECT id, LAG(id) OVER (ORDER BY id) AS prev FROM ids
)
SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
       (id - 1) - (prev + 1) + 1 AS n_missing
FROM lagged
WHERE id - prev > 1
ORDER BY gap_start
"""


# --- RFM customer segmentation ---------------------------------------------------


def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rfm_scores(B.load_table(spark, sf_dir, "orders"))


SQL_RFM_SCORES = f"""
WITH per_cust AS (
  -- NULL-key orders are not a customer (r12 --nulls audit; the
  -- reference drops null-key records at groupBy)
  SELECT o_custkey,
         epoch_us(MAX(o_orderdate)) // {R.DAY_US} AS last_day,
         COUNT(*) AS frequency,
         SUM(o_totalprice::DECIMAL(18,4))::DOUBLE AS monetary
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), horizon AS (
  SELECT epoch_us(MAX(o_orderdate)) // {R.DAY_US} AS max_day FROM orders
), base AS (
  SELECT o_custkey, max_day - last_day AS recency_days, frequency, monetary
  FROM per_cust, horizon
), n AS (SELECT COUNT(*) AS n FROM base), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (ORDER BY recency_days ASC, o_custkey ASC) - 1 AS rk_r,
    ROW_NUMBER() OVER (ORDER BY frequency ASC, o_custkey ASC) - 1 AS rk_f,
    ROW_NUMBER() OVER (ORDER BY monetary ASC, o_custkey ASC) - 1 AS rk_m
  FROM base
)
SELECT o_custkey, recency_days, frequency, monetary,
       ({R.RFM_TILES + 1} - ((rk_r * {R.RFM_TILES}) // n + 1))::BIGINT
         AS r_score,
       ((rk_f * {R.RFM_TILES}) // n + 1)::BIGINT AS f_score,
       ((rk_m * {R.RFM_TILES}) // n + 1)::BIGINT AS m_score,
       (({R.RFM_TILES + 1} - ((rk_r * {R.RFM_TILES}) // n + 1)) * 100
        + ((rk_f * {R.RFM_TILES}) // n + 1) * 10
        + ((rk_m * {R.RFM_TILES}) // n + 1))::BIGINT AS rfm
FROM ranked, n
"""


# --- dynamic-gap sessionization ---------------------------------------------------


def q_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.dynamic_sessions(B.load_table(spark, sf_dir, "events"))


def _dynamic_sessions_sql() -> str:
    gap_case = f"{R.DYN_GAP_DEFAULT}"
    for t, sec in sorted(R.DYN_GAPS.items(), reverse=True):
        gap_case = f"CASE WHEN prev_type = '{t}' THEN {sec} ELSE {gap_case} END"
    return f"""
WITH lagged AS (
  SELECT user_id, ts, event_id,
         LAG(epoch_us(ts)) OVER w AS prev_us,
         LAG(event_type) OVER w AS prev_type,
         epoch_us(ts) AS us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
), flagged AS (
  SELECT user_id, ts, event_id, us,
         CASE WHEN prev_us IS NULL
                OR us - prev_us > ({gap_case})::BIGINT * 1000000
              THEN 1 ELSE 0 END AS new_flag
  FROM lagged
), sess AS (
  SELECT user_id, ts,
         (SUM(new_flag) OVER (PARTITION BY user_id
                              ORDER BY us ASC, event_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW))::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts
FROM sess GROUP BY user_id, session_id
"""


# --- Kendall tau-b rank correlation ----------------------------------------------


def q_kendall_tau_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.kendall_tau_types(B.load_table(spark, sf_dir, "events"))


SQL_KENDALL_TAU_TYPES = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {R.DAY_US} AS day, event_type AS et, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT s.day, t.et, COALESCE(d.cnt, 0)::BIGINT AS cnt
  FROM (SELECT unnest(generate_series(lo, hi)) AS day
        FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)) s
  CROSS JOIN (SELECT DISTINCT et FROM daily) t
  LEFT JOIN daily d ON s.day = d.day AND t.et = d.et
), obs AS (
  SELECT x.day, x.et AS type_a, y.et AS type_b, x.cnt AS xa, y.cnt AS xb
  FROM spine x JOIN spine y ON x.day = y.day AND x.et < y.et
), pairs AS (
  SELECT o1.type_a, o1.type_b,
         SIGN((o2.xa - o1.xa)::DOUBLE) AS sx,
         SIGN((o2.xb - o1.xb)::DOUBLE) AS sy
  FROM obs o1
  JOIN obs o2 ON o1.type_a = o2.type_a AND o1.type_b = o2.type_b
             AND o1.day < o2.day
), agg AS (
  SELECT type_a, type_b,
         SUM((sx * sy > 0)::BIGINT)::BIGINT AS c,
         SUM((sx * sy < 0)::BIGINT)::BIGINT AS d,
         SUM((sx = 0 AND sy != 0)::BIGINT)::BIGINT AS tx,
         SUM((sx != 0 AND sy = 0)::BIGINT)::BIGINT AS ty
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, c AS n_concordant, d AS n_discordant,
       CASE WHEN SQRT((c + d + tx)::DOUBLE) * SQRT((c + d + ty)::DOUBLE)
                 != 0.0
            THEN (c - d)::DOUBLE
                 / (SQRT((c + d + tx)::DOUBLE) * SQRT((c + d + ty)::DOUBLE))
       END AS tau_b
FROM agg
ORDER BY type_a, type_b
"""


# --- shuffle-key skew diagnostic -----------------------------------------------


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators.profiling import key_skew_profile

    return key_skew_profile(
        B.load_table(spark, sf_dir, "events"), "user_id", top_k=10
    )


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id
), tot AS (
  SELECT COUNT(*) AS n_keys, SUM(cnt)::BIGINT AS total FROM counts
)
SELECT key, cnt,
       (cnt * n_keys)::DOUBLE / total::DOUBLE AS skew_ratio
FROM counts, tot
ORDER BY cnt DESC, key ASC
LIMIT 10
"""


# --- single-scan table profiling ----------------------------------------------

PROFILE_NUM_COLS = ["event_id", "user_id", "value"]
PROFILE_STR_COLS = ["event_type", "props"]


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators.profiling import profile_table

    return profile_table(
        B.load_table(spark, sf_dir, "events"),
        numeric_cols=PROFILE_NUM_COLS,
        string_cols=PROFILE_STR_COLS,
    )


def _profile_events_sql() -> str:
    num = ",\n    ".join(
        f"MIN({c}::DOUBLE) AS {c}__min, MAX({c}::DOUBLE) AS {c}__max, "
        f"CAST(SUM({c}::DECIMAL(18,4)) AS DOUBLE) AS {c}__sum"
        for c in PROFILE_NUM_COLS
    )
    strs = ",\n    ".join(
        f"MIN({c}) AS {c}__smin, MAX({c}) AS {c}__smax"
        for c in PROFILE_STR_COLS
    )
    nd = ",\n    ".join(
        f"(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END))::BIGINT AS {c}__nulls, "
        f"COUNT(DISTINCT {c}) AS {c}__dist"
        for c in PROFILE_NUM_COLS + PROFILE_STR_COLS
    )
    rows = [
        f"""SELECT '{c}' AS "column", _n AS n_rows, {c}__nulls AS n_nulls,
        {c}__dist AS n_distinct, {c}__min AS min_num, {c}__max AS max_num,
        {c}__sum AS sum_num, NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
        FROM s"""
        for c in PROFILE_NUM_COLS
    ] + [
        f"""SELECT '{c}' AS "column", _n AS n_rows, {c}__nulls AS n_nulls,
        {c}__dist AS n_distinct, NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
        NULL::DOUBLE AS sum_num, {c}__smin AS min_str, {c}__smax AS max_str
        FROM s"""
        for c in PROFILE_STR_COLS
    ]
    return (
        f"WITH s AS (\n  SELECT COUNT(*) AS _n,\n    {nd},\n    {num},\n    "
        f"{strs}\n  FROM events\n)\n" + "\nUNION ALL\n".join(rows)
    )


# --- semi-structured JSON processing ------------------------------------------


def q_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd JSON extraction over the events.props payload column:
    from_json with an explicit schema (corrupt input → null, never fatal —
    asserted in tests), extracted key bucketed and rolled up with
    decimal-exact value sums. The JSON parse is a JVM-side expression
    inside whole-stage codegen — no UDF, columnar all the way."""
    ev = B.load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select(
            "event_type",
            F.floor(k / 10).cast("long").alias("k_decile"),
            F.col("value"),
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            R.dsum("value").alias("total_value"),
        )
    )


SQL_JSON_PROPS_ROLLUP = """
SELECT event_type,
       -- json_valid + TRY_CAST guards (r11 divergence audit): DuckDB's
       -- json_extract RAISES on malformed props ('' or a truncated '{'),
       -- and the ::BIGINT cast RAISES on a non-numeric k value, while
       -- the engine's from_json maps corrupt JSON and uncoercible fields
       -- to NULL (the r9 corrupt-tolerant contract) — NULL on both
       TRY_CAST(json_extract(
         CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)
         // 10 AS k_decile,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# --- Z-order (Morton) clustering keys -----------------------------------------


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (user_id, day) — the clustering key write_zordered
    range-partitions on so per-file min/max stats prune scans filtered on
    EITHER dimension. Pure bitwise column expressions; the layout write +
    actual file-skipping effect are asserted in tests."""
    ev = B.load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        "user_id",
        F.expr(f"unix_micros(ts) div {R.DAY_US}").alias("day_idx"),
    )
    return keyed.select(
        "event_id",
        "user_id",
        "day_idx",
        L.morton_key(F.col("user_id"), F.col("day_idx")).alias("zkey"),
    )


SQL_ZORDER_KEYS = f"""
SELECT event_id, user_id, epoch_us(ts) // {R.DAY_US} AS day_idx,
       {L.morton_key_sql("user_id", f"(epoch_us(ts) // {R.DAY_US})")} AS zkey
FROM events
"""


def q_ewma_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA over each event type's daily event count — the
    smoothed-rate baseline. One (event_type, day) partial agg + one
    series-key window; the lag-chain arithmetic is stated identically in
    both engines (see operators.relational.ewma_smooth)."""
    ev = B.load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            # exact int64 `div` (r11 temporal divergence audit): the old
            # floor(us / DAY_US) went through DOUBLE division — off by one
            # day for pre-epoch rows (floor vs the oracle's truncating //)
            # AND for any row within ~0.15 ms of midnight, where the
            # quotient rounds up across the integer boundary (latent even
            # on clean data). Every other day-bucket operator already used
            # the int64 div pattern; this was the lone float path.
            F.expr(f"unix_micros(ts) div {R.DAY_US}").alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return R.ewma_smooth(
        daily, ["event_type"], "day_idx", "n_events",
        alpha=EWMA_ALPHA, span=EWMA_SPAN,
    ).select("event_type", "day_idx", "n_events", "ewma")


EWMA_ALPHA = 0.3
EWMA_SPAN = 8


def _ewma_sql() -> str:
    terms = []
    dens = []
    for j in range(EWMA_SPAN):
        wj = repr(EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j)
        lag = f"lag(n_events::DOUBLE, {j}) OVER w"
        terms.append(f"COALESCE({lag}, 0.0) * {wj}")
        dens.append(f"CASE WHEN {lag} IS NOT NULL THEN {wj} ELSE 0.0 END")
    num = " + ".join(terms)
    den = " + ".join(dens)
    return f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {R.DAY_US} AS day_idx,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, day_idx, n_events::BIGINT AS n_events,
       ROUND(({num}) / ({den}), 6) AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_idx ASC)
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-event-type fixed-width histogram of event values."""
    return R.value_histogram(B.load_table(spark, sf_dir, "events"))


SQL_VALUE_HISTOGRAM = f"""
WITH ext AS (
  SELECT event_type, MIN(value::DOUBLE) AS lo, MAX(value::DOUBLE) AS hi
  FROM events GROUP BY event_type
), binned AS (
  SELECT e.event_type,
         LEAST(
           CASE WHEN x.hi = x.lo THEN 0
                ELSE trunc((e.value::DOUBLE - x.lo)
                           / ((x.hi - x.lo) / {float(R.HIST_BINS)!r}))::BIGINT
           END,
           {R.HIST_BINS - 1}) AS bin,
         COUNT(*) AS n
  FROM events e JOIN ext x USING (event_type)
  GROUP BY 1, 2
), spine AS (
  SELECT event_type, lo, hi, unnest(generate_series(0, {R.HIST_BINS - 1})) AS bin
  FROM ext
)
SELECT s.event_type, s.bin::BIGINT AS bin,
       ROUND(s.lo + s.bin * ((s.hi - s.lo) / {R.HIST_BINS}), 6) AS bin_lo,
       COALESCE(b.n, 0)::BIGINT AS n
FROM spine s LEFT JOIN binned b ON s.event_type = b.event_type AND s.bin = b.bin
"""


def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution for purchase conversions over a 7-day
    look-back — one running range-frame window per user, no self-join."""
    return R.first_touch_attribution(B.load_table(spark, sf_dir, "events"))


SQL_FIRST_TOUCH = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, ts FROM events
), conv AS (
  SELECT * FROM ev WHERE event_type = 'purchase'
), cand AS (
  SELECT c.event_id, c.user_id, c.ts AS conversion_ts, c.us AS c_us,
         e.event_type AS t_type, e.event_id AS t_id, e.us AS t_us,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY e.us ASC, e.event_id ASC) AS rn
  FROM conv c JOIN ev e ON e.user_id = c.user_id
   AND e.us BETWEEN c.us - {R.ATTR_WINDOW_DAYS * 86_400_000_000} AND c.us
)
SELECT event_id, user_id, conversion_ts,
       t_type AS touch_type, t_id AS touch_event_id,
       (c_us - t_us) / 1000000.0 AS seconds_since_touch
FROM cand WHERE rn = 1
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog — average yearly revenue lost to small orders: the
    per-part correlated scalar subquery (l_quantity < 0.2 * the part's
    mean quantity) written as-is and DECORRELATED by Catalyst into one
    aggregate + equi-join (plan-asserted in tests) — the optimizer
    behavior that makes subquery-style analytics scale.

    Exactness: l_quantity is integer-valued, so per-part sums are exact in
    double at any accumulation order; the mean is one division, the 0.2
    scaling one multiply, and the revenue total a DECIMAL sum.
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                    / 7.0 AS DOUBLE) AS avg_yearly
        FROM v_lineitem l
        WHERE l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM v_lineitem l2
          WHERE l2.l_partkey = l.l_partkey
        )
        """
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
            / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
"""


def q_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-LCG bootstrap CI for mean daily revenue (see
    operators.relational.bootstrap_ci_daily_revenue)."""
    return R.bootstrap_ci_daily_revenue(B.load_table(spark, sf_dir, "orders"))


SQL_BOOTSTRAP_CI_REVENUE = f"""
WITH daily AS (
  -- NULL-date rows belong to no day of the series (r12 --nulls audit)
  SELECT o_orderdate, SUM(o_totalprice::DECIMAL(18,4)) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_orderdate
), indexed AS (
  SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate) - 1 AS day_idx, rev
  FROM daily
), nn AS (
  SELECT COUNT(*) AS n FROM daily
), draws AS (
  SELECT t // n AS b,
         (t * {R.BOOT_A} + {R.BOOT_C}) % {R.BOOT_P} % n AS sel, n
  FROM nn, unnest(generate_series(0, {R.BOOT_B} * n - 1)) AS u(t)
), means AS (
  SELECT b, SUM(rev)::DOUBLE / n::DOUBLE AS rmean
  FROM draws JOIN indexed ON sel = day_idx
  GROUP BY b, n
), ranked AS (
  SELECT rmean, ROW_NUMBER() OVER (ORDER BY rmean ASC, b ASC) AS r
  FROM means
)
SELECT
  (SELECT COUNT(*) FROM daily) AS n_days,
  {R.BOOT_B}::BIGINT AS n_boot,
  (SELECT SUM(rev)::DOUBLE / COUNT(*)::DOUBLE FROM daily)
    AS mean_daily_revenue,
  (SELECT rmean FROM ranked WHERE r = {-(-5 * R.BOOT_B // 100)}) AS ci_lo,
  (SELECT rmean FROM ranked WHERE r = {-(-95 * R.BOOT_B // 100)}) AS ci_hi
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "user_sessions": q_user_sessions,
    "event_transitions": q_event_transitions,
    "event_funnel": q_event_funnel,
    "cohort_retention": q_cohort_retention,
    "daily_timeseries": q_daily_timeseries,
    "rolling_anomalies": q_rolling_anomalies,
    "pricing_summary_sql": q_pricing_summary_sql,
    "shipping_priority": q_shipping_priority,
    "supplier_volume": q_supplier_volume,
    "top_orders_per_customer": q_top_orders_per_customer,
    "event_analytics": q_event_analytics,
    "set_ops": q_set_ops,
    "rollup_revenue": q_rollup_revenue,
    "distinct_users": q_distinct_users,
    "approx_distinct_users": q_approx_distinct_users,
    "cube_orders": q_cube_orders,
    "semi_anti_customers": q_semi_anti_customers,
    "events_asof_orders": q_events_asof_orders,
    "event_pairs_range_join": q_event_pairs_range_join,
    "order_value_deciles": q_order_value_deciles,
    "pivot_order_revenue": q_pivot_order_revenue,
    "unpivot_order_revenue": q_unpivot_order_revenue,
    "doc_word_count": q_doc_word_count,
    "order_price_quantiles": q_order_price_quantiles,
    "order_price_quantiles_approx": q_order_price_quantiles_approx,
    "grouping_sets_revenue": q_grouping_sets_revenue,
    "zorder_keys": q_zorder_keys,
    "json_props_rollup": q_json_props_rollup,
    "profile_events": q_profile_events,
    "key_skew_profile": q_key_skew_profile,
    "seasonal_decompose": q_seasonal_decompose,
    "acf_daily": q_acf_daily,
    "cusum_changepoint": q_cusum_changepoint,
    "skyline_orders": q_skyline_orders,
    "part_affinity": q_part_affinity,
    "survival_curve": q_survival_curve,
    "ab_test_zscores": q_ab_test_zscores,
    "bootstrap_ci_revenue": q_bootstrap_ci_revenue,
    "expectation_suite": q_expectation_suite,
    "pattern_match_daily": q_pattern_match_daily,
    "sequence_gap_audit": q_sequence_gap_audit,
    "rfm_scores": q_rfm_scores,
    "dynamic_sessions": q_dynamic_sessions,
    "kendall_tau_types": q_kendall_tau_types,
    "seasonal_anomalies": q_seasonal_anomalies,
    "conversion_lag_quantiles": q_conversion_lag_quantiles,
    "user_burstiness": q_user_burstiness,
    "user_path_score": q_user_path_score,
    "seasonal_by_type": q_seasonal_by_type,
    "forecast_backtest": q_forecast_backtest,
    "join_cardinality_audit": q_join_cardinality_audit,
    "dau_mau_stickiness": q_dau_mau_stickiness,
    "power_user_share": q_power_user_share,
    "revenue_mom_growth": q_revenue_mom_growth,
    "ltv_cohort_curve": q_ltv_cohort_curve,
    "basket_size_distribution": q_basket_size_distribution,
    "event_type_correlation": q_event_type_correlation,
    "rolling_median_daily": q_rolling_median_daily,
    "user_event_paths": q_user_event_paths,
    "daily_ohlc": q_daily_ohlc,
    "concurrent_sessions": q_concurrent_sessions,
    "hopping_event_counts": q_hopping_event_counts,
    "winsorize_values": q_winsorize_values,
    "hopping_active_users": q_hopping_active_users,
    "user_value_mad": q_user_value_mad,
    "user_similarity": q_user_similarity,
    "nation_revenue_share": q_nation_revenue_share,
    "benford_digits": q_benford_digits,
    "order_value_gini": q_order_value_gini,
    "trending_event_types": q_trending_event_types,
    "pseudonymized_events": q_pseudonymized_events,
    "order_price_cdf": q_order_price_cdf,
    "user_segments": q_user_segments,
    "fk_integrity_audit": q_fk_integrity_audit,
    "ewma_event_rate": q_ewma_event_rate,
    "value_histogram": q_value_histogram,
    "first_touch_attribution": q_first_touch_attribution,
    "small_quantity_revenue": q_small_quantity_revenue,
}

ORACLES = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "user_sessions": SQL_USER_SESSIONS,
    "event_funnel": SQL_EVENT_FUNNEL,
    "cohort_retention": SQL_COHORT_RETENTION,
    "daily_timeseries": SQL_DAILY_TIMESERIES,
    "rolling_anomalies": SQL_ROLLING_ANOMALIES,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "pricing_summary_sql": SQL_PRICING_SUMMARY,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "supplier_volume": SQL_SUPPLIER_VOLUME,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "event_analytics": SQL_EVENT_ANALYTICS,
    "set_ops": SQL_SET_OPS,
    "rollup_revenue": SQL_ROLLUP_REVENUE,
    "distinct_users": SQL_DISTINCT_USERS,
    "cube_orders": SQL_CUBE_ORDERS,
    "semi_anti_customers": SQL_SEMI_ANTI_CUSTOMERS,
    "events_asof_orders": SQL_EVENTS_ASOF_ORDERS,
    "event_pairs_range_join": SQL_EVENT_PAIRS_RANGE_JOIN,
    "order_value_deciles": SQL_ORDER_VALUE_DECILES,
    "pivot_order_revenue": SQL_PIVOT_ORDER_REVENUE,
    "unpivot_order_revenue": SQL_UNPIVOT_ORDER_REVENUE,
    "doc_word_count": SQL_DOC_WORD_COUNT,
    "order_price_quantiles": SQL_ORDER_PRICE_QUANTILES,
    "order_price_quantiles_approx": SQL_ORDER_PRICE_QUANTILES_APPROX,
    "approx_distinct_users": SQL_APPROX_DISTINCT_USERS,
    "grouping_sets_revenue": SQL_GROUPING_SETS_REVENUE,
    "zorder_keys": SQL_ZORDER_KEYS,
    "json_props_rollup": SQL_JSON_PROPS_ROLLUP,
    "profile_events": _profile_events_sql(),
    "key_skew_profile": SQL_KEY_SKEW_PROFILE,
    "seasonal_decompose": SQL_SEASONAL_DECOMPOSE,
    "acf_daily": SQL_ACF_DAILY,
    "cusum_changepoint": SQL_CUSUM_CHANGEPOINT,
    "skyline_orders": SQL_SKYLINE_ORDERS,
    "part_affinity": SQL_PART_AFFINITY,
    "survival_curve": SQL_SURVIVAL_CURVE,
    "ab_test_zscores": SQL_AB_TEST_ZSCORES,
    "bootstrap_ci_revenue": SQL_BOOTSTRAP_CI_REVENUE,
    "expectation_suite": SQL_EXPECTATION_SUITE,
    "pattern_match_daily": SQL_PATTERN_MATCH_DAILY,
    "sequence_gap_audit": SQL_SEQUENCE_GAP_AUDIT,
    "rfm_scores": SQL_RFM_SCORES,
    "dynamic_sessions": _dynamic_sessions_sql(),
    "kendall_tau_types": SQL_KENDALL_TAU_TYPES,
    "seasonal_anomalies": SQL_SEASONAL_ANOMALIES,
    "conversion_lag_quantiles": SQL_CONVERSION_LAG_QUANTILES,
    "user_burstiness": SQL_USER_BURSTINESS,
    "user_path_score": SQL_USER_PATH_SCORE,
    "seasonal_by_type": SQL_SEASONAL_BY_TYPE,
    "forecast_backtest": SQL_FORECAST_BACKTEST,
    "join_cardinality_audit": SQL_JOIN_CARDINALITY_AUDIT,
    "dau_mau_stickiness": SQL_DAU_MAU_STICKINESS,
    "power_user_share": SQL_POWER_USER_SHARE,
    "revenue_mom_growth": SQL_REVENUE_MOM_GROWTH,
    "ltv_cohort_curve": SQL_LTV_COHORT_CURVE,
    "basket_size_distribution": SQL_BASKET_SIZE_DISTRIBUTION,
    "event_type_correlation": SQL_EVENT_TYPE_CORRELATION,
    "rolling_median_daily": SQL_ROLLING_MEDIAN_DAILY,
    "user_event_paths": SQL_USER_EVENT_PATHS,
    "daily_ohlc": SQL_DAILY_OHLC,
    "concurrent_sessions": _concurrent_sessions_sql(),
    "hopping_event_counts": SQL_HOPPING_EVENT_COUNTS,
    "winsorize_values": SQL_WINSORIZE_VALUES,
    "hopping_active_users": SQL_HOPPING_ACTIVE_USERS,
    "user_value_mad": SQL_USER_VALUE_MAD,
    "user_similarity": SQL_USER_SIMILARITY,
    "nation_revenue_share": SQL_NATION_REVENUE_SHARE,
    "benford_digits": SQL_BENFORD_DIGITS,
    "order_value_gini": SQL_ORDER_VALUE_GINI,
    "trending_event_types": SQL_TRENDING_EVENT_TYPES,
    "pseudonymized_events": SQL_PSEUDONYMIZED_EVENTS,
    "order_price_cdf": SQL_ORDER_PRICE_CDF,
    "user_segments": SQL_USER_SEGMENTS,
    "fk_integrity_audit": SQL_FK_INTEGRITY_AUDIT,
    "ewma_event_rate": _ewma_sql(),
    "value_histogram": SQL_VALUE_HISTOGRAM,
    "first_touch_attribution": SQL_FIRST_TOUCH,
    "small_quantity_revenue": SQL_SMALL_QUANTITY_REVENUE,
}
