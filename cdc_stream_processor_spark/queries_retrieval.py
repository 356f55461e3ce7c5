"""Driver-contract queries for the retrieval & corpus-statistics family
(``operators/retrieval.py``): BM25 top-k, df spectrum, lexical diversity,
Hellinger source drift, quantized Zipf slope, KMV distinct sketch.

Every oracle restates the operator's exact arithmetic in DuckDB from the
SAME module constants: rational idf (no log), `length(bin(n)) - 1` for
floor(log2), IEEE-correctly-rounded sqrt/division chains floored to
integers BEFORE aggregation, and md5-derived 32-bit KMV hashes — so the
driver's value-hash compare is bit-exact.  All DuckDB SUMs are cast
::BIGINT (HUGEINT tripwire).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import retrieval as R
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.sources import batch as B

_TOKS = TH.TOKENS_SQL.format(text="text")

# fixed query-term set for the BM25 entry (present in the synthetic corpus
# vocabulary; a mix of high- and mid-df terms so tf saturation and idf both
# discriminate)
BM25_TERMS = ["spark", "join", "window", "vector", "stream"]
BM25_K = 20


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.bm25_topk(
        B.load_table(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# CTE chain shared by the bm25_topk oracle and the rrf_fusion oracle's
# lexical leg (identical text = identical arithmetic).
_BM25_CTES = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl)::BIGINT AS total_dl FROM dl
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN ({_TERMS_SQL})
  GROUP BY doc_id, token
), dft AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), contrib AS (
  SELECT tf.doc_id,
    FLOOR({float(R.BM25_SCALE)}
      * ((s.n_docs::DOUBLE - d.df::DOUBLE + 0.5) / (d.df::DOUBLE + 0.5))
      * (tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE
            + 1.2 * (1.0 - 0.75
                     + 0.75 * (dl.dl::DOUBLE
                               / (s.total_dl::DOUBLE / s.n_docs::DOUBLE)))))
    )::BIGINT AS c
  FROM tf
  JOIN dft d USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
), bm25 AS (
  SELECT doc_id, SUM(c)::BIGINT AS score_scaled, COUNT(*) AS n_terms_matched
  FROM contrib GROUP BY doc_id
  ORDER BY score_scaled DESC, doc_id ASC LIMIT {BM25_K}
)
"""

SQL_BM25_TOPK = (
    _BM25_CTES + "SELECT doc_id, score_scaled, n_terms_matched FROM bm25"
)


RRF_QUERY_VEC = 0  # the dense leg's query vector (vec_id 0 always exists;
# the similarity family's QUERY_STRIDE=50 query set already depends on it)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF-fuse the BM25 lexical top-20 (documents) with
    the dense cosine top-20 for query vector 0 (embeddings; the tables are
    the parallel corpus — embedding i encodes document i)."""
    from pyspark.sql import Window

    from cdc_stream_processor_spark.operators import similarity as S

    docs = B.load_table(spark, sf_dir, "documents")
    emb = B.load_table(spark, sf_dir, "embeddings")
    lex = R.bm25_topk(docs, BM25_TERMS, k=BM25_K)
    # rank the k-row lexical list (global window at aggregate scale: k rows)
    w = Window.orderBy(F.col("score_scaled").desc(), F.col("doc_id").asc())
    lex_ranked = lex.select("doc_id", F.row_number().over(w).alias("rank"))
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC)
    dense = S.brute_force_topk(q, emb, k=BM25_K).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return R.rrf_fuse([lex_ranked, dense])


_FOLD = "list_reduce(list_prepend(0.0::DOUBLE, {arr}), (acc, x) -> acc + x)"
_DOT = _FOLD.format(arr="list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])")
_NQ = _FOLD.format(arr="list_transform(q.e, x -> x * x)")
_NC = _FOLD.format(arr="list_transform(c.e, x -> x * x)")

SQL_RRF_FUSION = (
    _BM25_CTES
    + f"""
, lexr AS (
  SELECT doc_id, ROW_NUMBER() OVER (
    ORDER BY score_scaled DESC, doc_id ASC) AS rank
  FROM bm25
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), dscored AS (
  SELECT c.vec_id AS doc_id,
         ROUND({_DOT} / (sqrt({_NQ}) * sqrt({_NC})), 6) AS cosine_sim
  FROM (SELECT * FROM v WHERE vec_id = {RRF_QUERY_VEC}) q, v c
  WHERE q.vec_id != c.vec_id
), dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (
      ORDER BY cosine_sim DESC, doc_id ASC) AS rank
    FROM dscored
  ) WHERE rank <= {BM25_K}
), unioned AS (
  SELECT doc_id, {R.RRF_SCALE} // ({R.RRF_K0} + rank) AS c FROM lexr
  UNION ALL
  SELECT doc_id, {R.RRF_SCALE} // ({R.RRF_K0} + rank) AS c FROM dense
)
SELECT doc_id, SUM(c)::BIGINT AS rrf_score_scaled, COUNT(*) AS n_lists
FROM unioned GROUP BY doc_id
"""
)


def q_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.df_spectrum(B.load_table(spark, sf_dir, "documents"))


SQL_DF_SPECTRUM = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), dft AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
)
SELECT (length(bin(df)) - 1)::BIGINT AS df_bucket,
       COUNT(*) AS n_types,
       SUM(df)::BIGINT AS total_df
FROM dft GROUP BY 1
"""


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.token_diversity(B.load_table(spark, sf_dir, "documents"))


SQL_TOKEN_DIVERSITY = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), pt AS (
  SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
), agg AS (
  SELECT doc_id,
         SUM(c)::BIGINT AS n_tokens,
         COUNT(*) AS n_types,
         SUM((c = 1)::BIGINT)::BIGINT AS n_hapax,
         SUM(c * c)::BIGINT AS c2
  FROM pt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       (n_tokens * n_tokens - c2)::DOUBLE
         / (n_tokens * n_tokens)::DOUBLE AS simpson
FROM agg
"""


def q_hellinger_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.hellinger_source_drift(B.load_table(spark, sf_dir, "documents"))


SQL_HELLINGER_SOURCE_DRIFT = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
), gc AS (
  SELECT token, COUNT(*) AS c_g FROM toks GROUP BY token
), sc AS (
  SELECT source, token, COUNT(*) AS c_s FROM toks GROUP BY source, token
), ng AS (
  SELECT COUNT(*) AS n_g FROM toks
), ns AS (
  SELECT source, COUNT(*) AS n_s FROM toks GROUP BY source
), grid AS (
  SELECT ns.source, ns.n_s, gc.token, gc.c_g,
         COALESCE(sc.c_s, 0) AS c_s, ng.n_g
  FROM ns
  CROSS JOIN gc
  LEFT JOIN sc ON sc.source = ns.source AND sc.token = gc.token
  CROSS JOIN ng
)
SELECT source,
  SUM(FLOOR({float(R.HELLINGER_SCALE)}
    * ((sqrt(c_s::DOUBLE / n_s::DOUBLE) - sqrt(c_g::DOUBLE / n_g::DOUBLE))
       * (sqrt(c_s::DOUBLE / n_s::DOUBLE) - sqrt(c_g::DOUBLE / n_g::DOUBLE)))
  )::BIGINT)::BIGINT AS hellinger2_scaled,
  SUM((c_s > 0)::BIGINT)::BIGINT AS n_types_used
FROM grid GROUP BY source
"""


def q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.zipf_slope_by_source(B.load_table(spark, sf_dir, "documents"))


SQL_ZIPF_SLOPE_BY_SOURCE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
), freq AS (
  SELECT source, token, COUNT(*) AS freq FROM toks GROUP BY source, token
), pts AS (
  SELECT source,
    (length(bin(ROW_NUMBER() OVER (
       PARTITION BY source ORDER BY freq DESC, token ASC))) - 1)::BIGINT AS x,
    (length(bin(freq)) - 1)::BIGINT AS y
  FROM freq
), agg AS (
  SELECT source, COUNT(*) AS n,
         SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx
  FROM pts GROUP BY source
)
SELECT source, n AS n_types,
  CASE WHEN n * sxx - sx * sx != 0
       THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
  END AS zipf_slope
FROM agg
"""


def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.kmv_distinct_tokens(B.load_table(spark, sf_dir, "documents"))


_KMV_K = 64
_KMV_NUM = float((_KMV_K - 1) * R.KMV_SPACE)

SQL_KMV_DISTINCT_TOKENS = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
), types AS (
  SELECT source, token,
         ('0x' || substr(md5(token), 1, 8))::UBIGINT::BIGINT AS h
  FROM (SELECT source, token FROM toks GROUP BY source, token)
), ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY h ASC, token ASC) AS r
  FROM types
), exact AS (
  SELECT source, COUNT(*) AS n_types FROM types GROUP BY source
), kth AS (
  SELECT source, MAX(h)::BIGINT AS h_k, COUNT(*) AS n_kept
  FROM ranked WHERE r <= {_KMV_K} GROUP BY source
)
SELECT e.source, e.n_types,
  CASE WHEN k.n_kept < {_KMV_K} THEN e.n_types
       ELSE FLOOR({_KMV_NUM} / (k.h_k + 1)::DOUBLE)::BIGINT
  END AS kmv_estimate
FROM exact e JOIN kth k USING (source)
"""


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "rrf_fusion": (q_rrf_fusion, SQL_RRF_FUSION),
    "df_spectrum": (q_df_spectrum, SQL_DF_SPECTRUM),
    "token_diversity": (q_token_diversity, SQL_TOKEN_DIVERSITY),
    "hellinger_source_drift": (q_hellinger_source_drift, SQL_HELLINGER_SOURCE_DRIFT),
    "zipf_slope_by_source": (q_zipf_slope_by_source, SQL_ZIPF_SLOPE_BY_SOURCE),
    "kmv_distinct_tokens": (q_kmv_distinct_tokens, SQL_KMV_DISTINCT_TOKENS),
}
