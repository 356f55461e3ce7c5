"""Driver-contract queries for the entity-resolution family
(``operators/linkage.py``): blocked Fellegi-Sunter pair scoring and the
blocking-quality audit. Oracles restate the integer weights/thresholds
and DuckDB's identical `levenshtein`; the only doubles are a single
subtraction/abs against an exactly-representable tolerance."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cdc_stream_processor_spark.operators import linkage as L
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.sources import batch as B


def q_er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return L.er_match_pairs(B.load_table(spark, sf_dir, "customer"))


SQL_ER_MATCH_PAIRS = f"""
WITH pairs AS (
  SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist,
         abs(a.c_acctbal - b.c_acctbal) <= {L.BAL_TOL} AS bal_close
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
), scored AS (
  SELECT *,
    ((CASE WHEN name_dist <= {L.NAME_STRONG_D} THEN {L.W_NAME_STRONG}
           WHEN name_dist <= {L.NAME_WEAK_D} THEN {L.W_NAME_WEAK}
           ELSE {L.W_NAME_MISS} END)
     + (CASE WHEN bal_close THEN {L.W_BAL} ELSE {L.W_BAL_MISS} END)
    )::BIGINT AS score
  FROM pairs
)
SELECT custkey_a, custkey_b, name_dist, bal_close, score,
       CASE WHEN score >= {L.TIER_MATCH} THEN 'match'
            WHEN score >= {L.TIER_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS tier
FROM scored WHERE score >= {L.TIER_POSSIBLE}
"""


def q_er_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return L.er_block_stats(B.load_table(spark, sf_dir, "customer"))


SQL_ER_BLOCK_STATS = """
SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_records,
       ((COUNT(*) * (COUNT(*) - 1)) / 2)::BIGINT AS n_pairs
FROM customer GROUP BY c_nationkey, c_mktsegment
"""


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "er_match_pairs": (q_er_match_pairs, SQL_ER_MATCH_PAIRS),
    "er_block_stats": (q_er_block_stats, SQL_ER_BLOCK_STATS),
}
