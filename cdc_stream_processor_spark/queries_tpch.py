"""TPC-H-analog subquery-family queries (SURVEY.md §2.11 relational surface).

The reference (Kafka Streams, `ABBankTopology.java`) has no subquery or
decorrelation surface at all; these queries exercise the Catalyst paths a
general analytics engine must have — EXISTS / NOT EXISTS semi/anti joins,
IN over an aggregated subquery, correlated scalar subqueries (decorrelated
into aggregate + equi-join), scalar-subquery thresholds against global
aggregates, and outer-join count distributions — each with a bit-exact
DuckDB oracle.

Exactness rules (same as queries_relational):
- money sums run in DECIMAL(18,4) on both engines (order-independent),
  cast to DOUBLE only at the end;
- threshold comparisons against aggregates are done in decimal/integer
  arithmetic (`sum * 1000 > total`, `bal * n > total`) — never via a
  double division whose rounding could flip a boundary row;
- quantities are integer-valued doubles, exact at any accumulation order;
- every LIMIT carries a unique tie-break so results are total-ordered.

At 100 TB: every query here is one or two shuffles after Catalyst
decorrelation; dimension sides (part, supplier, customer, nation) are
broadcast; the fact-side scans carry pushed filters. No correlated
per-row re-execution survives optimization (plan-asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.operators.relational import (
    dsum,
    global_top_k,
)
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.sources import batch as B


# --- Q4 analog: order priority checking (EXISTS → left-semi join) -----------


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (in one quarter) having at least one late-shipped lineitem
    (shipdate > orderdate + 60 days), counted per priority.

    EXISTS compiles to a left-semi hash join on l_orderkey: the lineitem
    side is reduced map-side by the lateness predicate before the shuffle,
    and each order ships at most once into the count regardless of how many
    of its lines are late.
    """
    orders = B.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-04-01"))
    )
    li = B.load_table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    joined = orders.join(
        late,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1998-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


# --- Q10 analog: returned-item reporting (join + agg + top-20) --------------


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns (l_returnflag = 'R') in a
    quarter, enriched with nation name.

    lineitem⋈orders shuffles once on orderkey; customer and nation broadcast.
    The top-20 runs as TakeOrderedAndProject (no global sort materialized).
    """
    t = B.load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1998-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-04-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        dsum(rev).alias("revenue")
    )
    return global_top_k(
        agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20
    )


SQL_RETURNED_ITEM_CUSTOMERS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1998-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- Q11 analog: important parts (HAVING vs global-total scalar subquery) ---


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5× the average per-part revenue — the
    Q11 "important stock" shape with a SCALE-FREE threshold (TPC-H scales
    Q11's fraction by 1/SF by hand; tying the bar to the average keeps the
    selectivity stable from sf0.001 to 100 TB).

    The global (total, n_parts) one-row aggregate broadcast-cross-joins
    onto the per-part aggregate (Catalyst plans the scalar subquery exactly
    so).  The threshold compares `part_rev * n_parts * 2 > total_rev * 3` in
    DECIMAL-times-integer — exact, cannot flip on double rounding.
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    # persist: per_part feeds its own global (total, n_parts) stat AND the
    # threshold filter — one lineitem aggregate instead of two
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev.cast("decimal(18,4)")).alias("rev_dec")
    ).persist()
    total = per_part.agg(
        F.sum("rev_dec").alias("total_dec"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("rev_dec") * F.col("n_parts") * 2 > F.col("total_dec") * 3)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("rev_dec").cast("double").alias("part_revenue"),
        )
    )


SQL_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT l_partkey,
    SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
      AS rev_dec
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT SUM(rev_dec) AS total_dec, COUNT(*) AS n_parts FROM per_part
)
SELECT l_partkey AS p_partkey, CAST(rev_dec AS DOUBLE) AS part_revenue
FROM per_part, tot
WHERE rev_dec * n_parts * 2 > total_dec * 3
"""


# --- Q13 analog: customer order-count distribution (outer join + re-agg) ----


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by how many non-urgent orders they placed
    (including zero-order customers via the left outer join).

    Two aggregations: per-customer count (shuffle on custkey), then the
    tiny count-of-counts re-aggregation.  The join condition's priority
    filter lives ON the join (not WHERE) so customers with only urgent
    orders still appear with c_count = 0 — the classic Q13 trap.
    """
    cust = B.load_table(spark, sf_dir, "customer")
    orders = B.load_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders.filter(F.col("o_orderpriority") != "1-URGENT"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


SQL_CUSTDIST = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


# --- Q14 analog: promo revenue share (conditional aggregate ratio) ----------


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts.

    part broadcasts onto the lineitem scan; one shuffle on the month key.
    Both operands of the final ratio are exact DECIMAL sums; the ratio is
    one double multiply + one divide in the same literal order on both
    engines, so the result is bit-identical.
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    part = B.load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", rev)
            .otherwise(F.lit(0.0))
            .cast("decimal(18,4)")
        ).alias("promo_dec"),
        F.sum(rev.cast("decimal(18,4)")).alias("total_dec"),
    )
    return agg.select(
        "ship_month",
        # try_divide: a month whose revenue sums to exactly 0 makes the
        # share 0/0 — DuckDB ships NULL, ANSI `/` kills the job (r12
        # unguarded-denominator sweep)
        F.try_divide(
            F.col("promo_dec").cast("double") * 100.0,
            F.col("total_dec").cast("double"),
        ).alias("promo_share_pct"),
    )


SQL_PROMO_REVENUE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
             THEN ROUND(l_extendedprice * (1 - l_discount), 4)
             ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) * 100.0
  / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
             AS DECIMAL(18,4))) AS DOUBLE) AS promo_share_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


# --- Q15 analog: top supplier(s) (aggregate view + scalar-max equality) -----


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose half-year revenue equals the maximum over all
    suppliers — the Q15 view + scalar subquery, with the equality taken on
    exact DECIMAL revenue so ties and boundaries are engine-independent.
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    supp = B.load_table(spark, sf_dir, "supplier")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-07-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev.cast("decimal(18,4)")).alias("rev_dec"))
        # persist: the view feeds its own max AND the equality filter
        .persist()
    )
    mx = revenue.agg(F.max("rev_dec").alias("max_dec"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
    SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
      AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1998-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM revenue)
"""


# --- Q16 analog: supplier diversity per part group (NOT IN → anti join) -----


def q_parts_supplier_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count of distinct suppliers per (brand, type, size) for small parts,
    excluding suppliers with negative account balance (the NOT IN
    "complaints" subquery → broadcast anti join on the lineitem bridge).
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    part = B.load_table(spark, sf_dir, "part")
    supp = B.load_table(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    bridge = (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            F.broadcast(part.filter(F.col("p_size") <= 10)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return bridge.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_PARTS_SUPPLIER_DIST = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""


# --- Q18 analog: large-volume orders (IN over aggregated subquery) ----------


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 200 units, with customer info.

    The IN-subquery (GROUP BY + HAVING) becomes a left-semi join onto
    orders; quantities are integer-valued so the HAVING sum is exact in
    double at any accumulation order (asserted by the integer-quantity
    check in tests).
    """
    t = B.load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


SQL_LARGE_ORDERS = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, t.sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- Q22 analog: dormant high-balance customers (NOT EXISTS + scalar avg) ---


def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers with above-average positive balance and no
    RECENT orders (none since 1998-06-01) — the acquisition-opportunity
    query (Q22 with nationkey standing in for the phone country code and
    recency standing in for "never ordered", which is empty on this corpus
    where every customer has some order).

    The average comparison is done exactly: `bal * n_pos > total_pos` in
    DECIMAL (count-scaled), never via a double division.  NOT EXISTS is a
    broadcast anti join of the recent order keys onto customer.
    """
    cust = B.load_table(spark, sf_dir, "customer")
    orders = B.load_table(spark, sf_dir, "orders")
    bal_dec = F.col("c_acctbal").cast("decimal(18,4)")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_dec).alias("total_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(bal_dec * F.col("n_pos") > F.col("total_pos"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("1998-06-01")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


SQL_SALES_OPPORTUNITY = """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS total_pos,
         COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_pos > total_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1998-06-01'
  )
GROUP BY c_nationkey
"""


# --- Q2 analog: min-balance supplier per part (correlated scalar MIN) -------


def q_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each small part, the supplier(s) with the minimum account balance
    among suppliers who actually shipped it — written as the correlated
    scalar-MIN subquery (TPC-H Q2 shape) and decorrelated by Catalyst into
    one aggregate + equi-join (plan-asserted in tests).

    The equality compares raw stored doubles (no arithmetic), so it is
    engine-independent by construction.
    """
    B.load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li2")
    B.load_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supp2")
    B.load_table(spark, sf_dir, "part").createOrReplaceTempView("v_part2")
    return spark.sql(
        """
        SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
                        s.s_acctbal
        FROM v_part2 p
        JOIN v_li2 l ON l.l_partkey = p.p_partkey
        JOIN v_supp2 s ON l.l_suppkey = s.s_suppkey
        WHERE p.p_size <= 3
          AND s.s_acctbal = (
            SELECT MIN(s2.s_acctbal)
            FROM v_li2 l2 JOIN v_supp2 s2 ON l2.l_suppkey = s2.s_suppkey
            WHERE l2.l_partkey = p.p_partkey
          )
        """
    )


SQL_MIN_ACCTBAL_SUPPLIER = """
SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p.p_size <= 3
  AND s.s_acctbal = (
    SELECT MIN(s2.s_acctbal)
    FROM lineitem l2 JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    WHERE l2.l_partkey = p.p_partkey
  )
"""


# --- Q6 analog: banded-predicate revenue (pure scan-side reduction) ---------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue delta from discounted small-quantity lines in one year — a
    single filtered scan with every predicate pushed to parquet and one
    map-side partial sum; the minimal-footprint aggregate (Q6 shape).

    The discount band uses exact decimal bounds (discount values are
    2-dp doubles; the cast to DECIMAL(8,4) is exact for them).
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast("decimal(8,4)")
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01"))
            & (F.col("l_shipdate") < F.lit("1999-01-01"))
            & (d >= F.lit("0.05").cast("decimal(8,4)"))
            & (d <= F.lit("0.07").cast("decimal(8,4)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.round(rev, 4)).alias("revenue"))
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 4)
            AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND CAST(l_discount AS DECIMAL(8,4)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- Q7 analog: two-nation trade volume (OR pair predicate on dims) ---------


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between NATION_1 and NATION_2 (either direction),
    per (supplier nation, customer nation, year).

    Both nation lookups broadcast; the OR pair predicate evaluates on the
    broadcast-joined names, so the fact side still makes exactly one
    orderkey shuffle.  The yearly revenue is an exact DECIMAL sum.
    """
    t = B.load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation"
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(dsum(rev).alias("revenue"))


SQL_NATION_TRADE_VOLUME = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


# --- Q8 analog: market share (conditional ratio inside re-aggregation) ------


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1 suppliers' share of ASIA customers' revenue, per order year.

    The two-level shape of Q8: revenue rows tagged with the supplier
    nation, then a conditional-sum ratio per year.  Both operands are exact
    DECIMAL sums; the final division is one double op in identical literal
    order on both engines.
    """
    t = B.load_tables(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nation = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_1", rev)
            .otherwise(F.lit(0.0))
            .cast("decimal(18,4)")
        ).alias("nat_dec"),
        F.sum(rev.cast("decimal(18,4)")).alias("total_dec"),
    )
    return agg.select(
        "o_year",
        # try_divide: an all-zero-revenue year is 0/0 — NULL on DuckDB,
        # fatal under ANSI `/` (r12 unguarded-denominator sweep)
        F.try_divide(
            F.col("nat_dec").cast("double"),
            F.col("total_dec").cast("double"),
        ).alias("mkt_share"),
    )


SQL_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_1'
             THEN ROUND(l_extendedprice * (1 - l_discount), 4)
             ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
  / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
             AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY year(o_orderdate)
"""


# --- Q12 analog: priority class counts per return flag ----------------------


def q_priority_linecount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag, how many 1998-shipped lines belong to urgent/high
    orders vs the rest — Q12's dual conditional count (shipmode stood in by
    l_returnflag, which this corpus has).
    """
    orders = B.load_table(spark, sf_dir, "orders")
    li = B.load_table(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-01-01"))
    ).join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


SQL_PRIORITY_LINECOUNT = """
SELECT l_returnflag,
  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag
"""


# --- Q19 analog: disjunctive brand/size/quantity predicates -----------------


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matching any of three (brand, size-band, quantity-band)
    clauses — Q19's disjunctive predicate.  Catalyst extracts the common
    conjuncts and pushes the quantity bounds to the lineitem scan; the
    per-clause brand/size tests run on the broadcast part side.
    """
    li = B.load_table(spark, sf_dir, "lineitem")
    part = B.load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(clause).agg(dsum(rev).alias("revenue"))


SQL_DISJUNCTIVE_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
            AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# --- Q9 analog: product-type profit by nation and year ----------------------


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per (supplier nation, order year) for parts whose name contains
    'widget' — Q9's 5-way join + two-key rollup shape.

    The testdata has no partsupp, so supply cost is modeled as
    60% of p_retailprice per unit (a deterministic stand-in that preserves
    the plan shape: the cost column rides the broadcast part side).
    lineitem⋈orders shuffles once on orderkey; part, supplier and nation
    broadcast; the profit expression folds into the scan projection.
    """
    t = B.load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    profit = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.round(F.col("p_retailprice") * 0.6, 4) * F.col("l_quantity"),
        4,
    )
    joined = (
        t["lineitem"]
        .join(
            F.broadcast(
                t["part"].filter(F.col("p_name").contains("widget"))
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                 - ROUND(p_retailprice * 0.6, 4) * l_quantity, 4)
            AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# --- Q20 analog: dominant suppliers of a part family (nested IN + agg) ------


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than 12% of the total shipped quantity of
    some 'blue' part (a discriminative share given ~100 candidate suppliers
    per part in the testdata) — Q20's nested-IN-over-aggregated-subquery shape,
    rewritten the way Catalyst decorrelates it: per-(part, supplier)
    aggregate joined against the per-part total, integer-exact threshold
    (qty * 25 > total * 3, no double division), then a semi join back to
    supplier.

    One shuffle on l_partkey serves both the pair-level and part-level
    aggregates (partial aggs combine map-side); part and supplier broadcast.
    """
    t = B.load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    blue = t["part"].filter(F.col("p_name").startswith("blue")).select("p_partkey")
    li = t["lineitem"].join(
        F.broadcast(blue), F.col("l_partkey") == F.col("p_partkey")
    )
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty")
    )
    total = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("total_qty")
    )
    dominant = (
        pair.join(total, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("qty") * 25 > F.col("total_qty") * 3)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_DOMINANT_PART_SUPPLIERS = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'blue%'
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) * 25 > (
    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,4)))
    FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  ) * 3
)
ORDER BY s_suppkey
"""


# --- Q21 analog: suppliers solely responsible for late orders ---------------


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count, per supplier, the finished ('F') multi-supplier orders where
    this supplier shipped late (> 90 days after order date) and NO other
    supplier on the order did — Q21's EXISTS + NOT-EXISTS double-correlated
    shape (testdata lacks commit/receipt dates, so lateness is
    shipdate − orderdate > 90 days).

    Implemented as one aggregate per (orderkey, suppkey) carrying
    late-or-not, then a per-order roll-up: an order charges supplier s iff
    s is late, the order has ≥ 2 suppliers, and exactly one supplier is
    late.  This folds both correlated EXISTS probes into a single shuffle
    on l_orderkey instead of two extra self-joins of lineitem.
    """
    t = B.load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    li = t["lineitem"].join(
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).cast("int")
        ).alias("is_late")
    )
    per_order = pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").cast("bigint").alias("n_late"),
    )
    charged = (
        pair.filter(F.col("is_late") == 1)
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
            ).select(F.col("l_orderkey").alias("o_key")),
            F.col("l_orderkey") == F.col("o_key"),
        )
    )
    return (
        charged.join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
    )


SQL_WAITING_SUPPLIERS = """
WITH pair AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late)::BIGINT AS n_late
  FROM pair GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM pair
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE pair.is_late = 1 AND per_order.n_supp >= 2 AND per_order.n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
"""


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "order_priority_check": (q_order_priority_check, SQL_ORDER_PRIORITY_CHECK),
    "returned_item_customers": (q_returned_item_customers, SQL_RETURNED_ITEM_CUSTOMERS),
    "important_parts": (q_important_parts, SQL_IMPORTANT_PARTS),
    "custdist": (q_custdist, SQL_CUSTDIST),
    "promo_revenue": (q_promo_revenue, SQL_PROMO_REVENUE),
    "top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER),
    "parts_supplier_dist": (q_parts_supplier_dist, SQL_PARTS_SUPPLIER_DIST),
    "large_orders": (q_large_orders, SQL_LARGE_ORDERS),
    "sales_opportunity": (q_sales_opportunity, SQL_SALES_OPPORTUNITY),
    "min_acctbal_supplier": (q_min_acctbal_supplier, SQL_MIN_ACCTBAL_SUPPLIER),
    "forecast_revenue": (q_forecast_revenue, SQL_FORECAST_REVENUE),
    "nation_trade_volume": (q_nation_trade_volume, SQL_NATION_TRADE_VOLUME),
    "market_share": (q_market_share, SQL_MARKET_SHARE),
    "priority_linecount": (q_priority_linecount, SQL_PRIORITY_LINECOUNT),
    "disjunctive_revenue": (q_disjunctive_revenue, SQL_DISJUNCTIVE_REVENUE),
    "product_profit": (q_product_profit, SQL_PRODUCT_PROFIT),
    "dominant_part_suppliers": (q_dominant_part_suppliers, SQL_DOMINANT_PART_SUPPLIERS),
    "waiting_suppliers": (q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
}
