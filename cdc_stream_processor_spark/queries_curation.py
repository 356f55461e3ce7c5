"""Driver-contract queries for the round-7 curation operators: suffix-array
longest-repeat statistics, winnowing fingerprints, trigram language models,
shingle novelty, and pipeline-rollup reports.

Every oracle restates the operator's exact arithmetic in DuckDB from the
SAME module constants — integer polynomial hashes, injective (hash, pos)
encodings, integer floor divisions, and single correctly-rounded double
divisions — so the driver's value-hash compare is bit-exact.  The LRS
oracle exploits the ladder identity (a duplicated L-gram exists iff
LRS >= L) to verify the suffix-array kernel without suffix arrays in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import corpus as C
from cdc_stream_processor_spark.operators import dedup as D
from cdc_stream_processor_spark.operators import fingerprint as FP
from cdc_stream_processor_spark.operators import text as T
from cdc_stream_processor_spark.operators import urlrules as U
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.queries_corpus import (
    BENCH_MOD,
    DECON_MIN_OVERLAP,
)
from cdc_stream_processor_spark.queries_extensions import DOCS_CTE
from cdc_stream_processor_spark.sources import batch as B

_TOKS = TH.TOKENS_SQL.format(text="text")


# --- longest repeated substring (suffix array, ladder-quantized) --------------


def q_lrs_dup_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FP.longest_repeat_scale(B.load_table(spark, sf_dir, "documents"))


_LADDER_SQL = "[" + ", ".join(str(s) for s in FP.LRS_LADDER) + "]"

# shared ladder CTEs: `best` = per-doc max ladder scale with a duplicated
# gram (absent if none), derived purely from substr equality.
_LRS_CTES = f"""
WITH lens AS (
  SELECT unnest({_LADDER_SQL}) AS L
), pos AS (
  SELECT unnest(generate_series(
    1, (SELECT COALESCE(MAX(length(text)), 0) FROM documents))) AS i
), dup AS (
  SELECT d.doc_id, l.L
  FROM documents d, lens l, pos p
  WHERE p.i + l.L - 1 <= length(d.text)
  GROUP BY d.doc_id, l.L, substr(d.text, p.i::INT, l.L::INT)
  HAVING COUNT(*) > 1
), best AS (
  SELECT doc_id, MAX(L)::BIGINT AS dup_scale FROM dup GROUP BY doc_id
)
"""

SQL_LRS_DUP_SCALE = (
    _LRS_CTES
    + """
SELECT d.doc_id, COALESCE(b.dup_scale, 0)::BIGINT AS dup_scale
FROM documents d LEFT JOIN best b USING (doc_id)
"""
)


def q_lrs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FP.lrs_by_source(B.load_table(spark, sf_dir, "documents"))


SQL_LRS_BY_SOURCE = (
    _LRS_CTES
    + """
, per_doc AS (
  SELECT d.source, COALESCE(b.dup_scale, 0)::BIGINT AS dup_scale
  FROM documents d LEFT JOIN best b USING (doc_id)
)
SELECT source, COUNT(*) AS n_docs,
       SUM((dup_scale > 0)::BIGINT)::BIGINT AS n_dup_docs,
       MAX(dup_scale)::BIGINT AS max_dup_scale,
       SUM(dup_scale)::BIGINT AS sum_dup_scale
FROM per_doc GROUP BY source
"""
)


# --- winnowing fingerprints (Schleimer et al. SIGMOD'03) ----------------------


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FP.winnowing_fingerprints(B.load_table(spark, sf_dir, "documents"))


# char codepoints → k-gram polynomial hashes → injective (hash, pos)
# encoding → w-window minima (rightmost ties via the position complement).
_WIN_CTES = f"""
WITH cps AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> ascii(c)::BIGINT) AS cp
  FROM documents
), hh AS (
  SELECT doc_id, list_transform(
      generate_series(1, greatest(len(cp) - {FP.WIN_K} + 1, 0)),
      i -> list_reduce(
             list_prepend(0::BIGINT, list_slice(cp, i, i + {FP.WIN_K} - 1)),
             (acc, x) -> (acc * {FP.P_FACTOR} + x) % {FP.P_MOD})) AS h
  FROM cps
), enc AS (
  SELECT doc_id, list_transform(
      generate_series(1, len(h)),
      i -> h[i] * {FP.WIN_POS_M} + ({FP.WIN_POS_M} - i)) AS e
  FROM hh WHERE len(h) > 0
), sel AS (
  SELECT doc_id, list_distinct(list_transform(
      generate_series(1, greatest(len(e) - {FP.WIN_W} + 1, 1)),
      j -> list_min(
             list_slice(e, j, least(j + {FP.WIN_W} - 1, len(e)))))) AS fps
  FROM enc
)
"""

SQL_WINNOWING_FINGERPRINTS = (
    _WIN_CTES
    + f"""
SELECT doc_id, ({FP.WIN_POS_M} - (f % {FP.WIN_POS_M}))::BIGINT AS pos,
       (f // {FP.WIN_POS_M})::BIGINT AS h
FROM (SELECT doc_id, unnest(fps) AS f FROM sel)
"""
)


def q_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FP.winnowing_overlap_pairs(B.load_table(spark, sf_dir, "documents"))


SQL_WINNOWING_OVERLAP_PAIRS = (
    _WIN_CTES
    + f"""
, fp AS (
  SELECT DISTINCT doc_id, f // {FP.WIN_POS_M} AS h
  FROM (SELECT doc_id, unnest(fps) AS f FROM sel)
), cold AS (
  SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {FP.WIN_HOT_DF}
), fpc AS (
  SELECT fp.doc_id, fp.h FROM fp JOIN cold USING (h)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {FP.WIN_MIN_SHARED}
"""
)


# --- trigram LM score (add-one, closed corpus) --------------------------------


def q_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.trigram_lm_score(B.load_table(spark, sf_dir, "documents"))


SQL_TRIGRAM_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), widx AS (
  SELECT doc_id, t, unnest(generate_series(3, len(t))) AS i
  FROM toks WHERE len(t) >= 3
), tg AS (
  SELECT doc_id, t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3 FROM widx
), c3 AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY 1, 2, 3
), ctx AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM tg GROUP BY 1, 2
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest({_TOKS}) AS w FROM documents)
), scored AS (
  SELECT tg.doc_id,
         FLOOR((c3.c3 + 1)::DOUBLE * {float(T.TRIGRAM_SCALE)}
               / (ctx.c2 + vocab.v)::DOUBLE)::BIGINT AS sp
  FROM tg JOIN c3 USING (w1, w2, w3) JOIN ctx USING (w1, w2), vocab
)
SELECT doc_id, COUNT(*) AS n_trigrams,
       SUM(sp)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS mean_scaled_p
FROM scored GROUP BY doc_id
"""


# --- stupid-backoff trigram scoring of held-out docs --------------------------


def q_stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    s = C.corpus_split(docs)
    train = s.filter(F.col("split") == "train").select("doc_id", "text")
    ev = s.filter(F.col("split") == "val").select("doc_id", "text")
    return T.stupid_backoff_score(train, ev)


def _backoff_sql() -> str:
    scale = float(T.TRIGRAM_SCALE)
    a, d = T.BACKOFF_NUM, T.BACKOFF_DEN
    return f"""
WITH split AS (
  SELECT doc_id, text,
         ((doc_id * {C.SPLIT_A} + {C.SPLIT_B}) % {C.SPLIT_P})::DOUBLE
           / {C.SPLIT_P}::DOUBLE AS u
  FROM documents
), ttoks AS (
  SELECT doc_id, {_TOKS} AS t FROM split WHERE u >= 0.3
), tr3 AS (
  SELECT t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3
  FROM (SELECT t, unnest(generate_series(3, len(t))) AS i
        FROM ttoks WHERE len(t) >= 3)
), tr2 AS (
  SELECT t[i-1] AS w1, t[i] AS w2
  FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
        FROM ttoks WHERE len(t) >= 2)
), tr1 AS (
  SELECT unnest(t) AS w1 FROM ttoks
), c123 AS (
  SELECT w1, w2, w3, COUNT(*)::BIGINT AS c123 FROM tr3 GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM tr2 GROUP BY 1, 2
), c1 AS (
  SELECT w1, COUNT(*)::BIGINT AS c1 FROM tr1 GROUP BY 1
), ntot AS (
  SELECT COUNT(*)::BIGINT AS n_tot FROM tr1
), etoks AS (
  SELECT doc_id, {_TOKS} AS t FROM split WHERE u >= 0.1 AND u < 0.3
), ev AS (
  SELECT doc_id, t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3
  FROM (SELECT doc_id, t, unnest(generate_series(3, len(t))) AS i
        FROM etoks WHERE len(t) >= 3)
), j AS (
  SELECT ev.doc_id, c123.c123, j12.c12, j23.c12 AS c23,
         u2.c1 AS c2, u3.c1 AS c3, ntot.n_tot
  FROM ev
  LEFT JOIN c123 USING (w1, w2, w3)
  LEFT JOIN c12 j12 ON ev.w1 = j12.w1 AND ev.w2 = j12.w2
  LEFT JOIN c12 j23 ON ev.w2 = j23.w1 AND ev.w3 = j23.w2
  LEFT JOIN c1 u2 ON ev.w2 = u2.w1
  LEFT JOIN c1 u3 ON ev.w3 = u3.w1, ntot
), scored AS (
  SELECT doc_id,
    CASE
      WHEN c123 IS NOT NULL
        THEN FLOOR(c123::DOUBLE * {scale} / c12::DOUBLE)
      WHEN c23 IS NOT NULL
        THEN FLOOR({a} * FLOOR(c23::DOUBLE * {scale} / c2::DOUBLE) / {d})
      WHEN c3 IS NOT NULL
        THEN FLOOR({a} * FLOOR({a} * FLOOR(c3::DOUBLE * {scale}
                                           / n_tot::DOUBLE) / {d}) / {d})
      ELSE 0
    END::BIGINT AS s,
    (c123 IS NULL)::BIGINT AS backed
  FROM j
)
SELECT doc_id, COUNT(*) AS n_trigrams, SUM(backed)::BIGINT AS n_backoff,
       SUM(s)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS mean_scaled_s
FROM scored GROUP BY doc_id
"""


# --- contamination report (per-source rollup of exact decontamination) --------


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    hits = (
        C.decontaminate(corpus, bench, min_overlap=DECON_MIN_OVERLAP)
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.expr("n_contaminated * 1000000L div n_docs").alias(
                "contamination_ppm"
            ),
        )
    )


SQL_CONTAMINATION_REPORT = (
    DOCS_CTE
    + f"""
, inv AS (
  SELECT doc_id, unnest(hs) AS h FROM shh
), bench AS (
  SELECT doc_id AS bench_id, h FROM inv WHERE doc_id % {BENCH_MOD} = 0
), corp AS (
  SELECT doc_id, h FROM inv WHERE doc_id % {BENCH_MOD} <> 0
), hits AS (
  SELECT DISTINCT doc_id, 1 AS hit FROM (
    SELECT c.doc_id FROM corp c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id, b.bench_id HAVING COUNT(*) >= {DECON_MIN_OVERLAP})
)
SELECT source, n_docs, n_contaminated,
       (n_contaminated * 1000000 // n_docs)::BIGINT AS contamination_ppm
FROM (
  SELECT d.source, COUNT(*) AS n_docs,
         SUM(COALESCE(hits.hit, 0))::BIGINT AS n_contaminated
  FROM documents d LEFT JOIN hits USING (doc_id)
  WHERE d.doc_id % {BENCH_MOD} <> 0
  GROUP BY d.source
)
"""
)


# --- shingle novelty ----------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.shingle_novelty(B.load_table(spark, sf_dir, "documents"))


_NOVELTY_CTES = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, unnest({TH.SHINGLES_SQL("t", 3)}) AS g FROM toks
), first AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
)
"""

SQL_NGRAM_NOVELTY = (
    _NOVELTY_CTES
    + """
SELECT doc_id, n_shingles, n_novel,
       (n_novel * 1000000 // n_shingles)::BIGINT AS novelty_ppm
FROM (
  SELECT sh.doc_id, COUNT(*) AS n_shingles,
         SUM((f.first_doc = sh.doc_id)::BIGINT)::BIGINT AS n_novel
  FROM sh JOIN first f USING (g)
  GROUP BY sh.doc_id
)
"""
)


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.novelty_curve(B.load_table(spark, sf_dir, "documents"))


SQL_NOVELTY_CURVE = (
    _NOVELTY_CTES
    + f"""
, pb AS (
  SELECT first_doc // {C.NOVELTY_BUCKET} AS bucket,
         COUNT(*)::BIGINT AS n_first_seen
  FROM first GROUP BY 1
)
SELECT bucket::BIGINT AS bucket, n_first_seen,
       SUM(n_first_seen) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS cum_first_seen
FROM pb
"""
)


# --- composed quality pipeline (dedup + Gopher, first-failing reason) ---------


def q_quality_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    gq = T.gopher_quality(docs)
    norm = docs.select("doc_id", D.normalized_text(F.col("text")).alias("_nt"))
    first = norm.groupBy("_nt").agg(F.min("doc_id").alias("_keep_id"))
    dup = norm.join(first, "_nt").select(
        "doc_id", (F.col("doc_id") != F.col("_keep_id")).alias("is_dup")
    )
    reason = (
        F.when(F.col("is_dup"), F.lit("exact_dup"))
        .when(~F.col("ok_word_count"), F.lit("word_count"))
        .when(~F.col("ok_mean_word_len"), F.lit("mean_word_len"))
        .when(~F.col("ok_symbol_ratio"), F.lit("symbol_ratio"))
        .when(~F.col("ok_alpha_words"), F.lit("alpha_ratio"))
        .when(~F.col("ok_stopwords"), F.lit("stopwords"))
        .otherwise(F.lit("keep"))
    )
    return (
        gq.join(dup, "doc_id")
        .withColumn("reason", reason)
        .select("doc_id", "reason", (F.col("reason") == "keep").alias("keep"))
    )


def _quality_pipeline_sql() -> str:
    toks = _TOKS
    stop_list = ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS)
    return f"""
WITH feats AS (
  SELECT doc_id,
    len({toks}) AS n_words,
    GREATEST(len({toks}), 1)::DOUBLE AS safe_words,
    length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS char_sum,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ellipsis,
    len(list_filter({toks}, t -> regexp_matches(t, '[a-z]'))) AS alpha_words,
    len(list_intersect(list_distinct({toks}), [{stop_list}])) AS stop_hits
  FROM documents
), flags AS (
  SELECT doc_id,
    (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS})
      AS ok_word_count,
    (ROUND(char_sum::DOUBLE / safe_words, 6) >= {T.GOPHER_MIN_MEAN_WORD_LEN}
     AND ROUND(char_sum::DOUBLE / safe_words, 6)
         <= {T.GOPHER_MAX_MEAN_WORD_LEN}) AS ok_mean_word_len,
    (ROUND((n_hash + n_ellipsis)::DOUBLE / safe_words, 6)
       < {T.GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
    (ROUND(alpha_words::DOUBLE / safe_words, 6)
       >= {T.GOPHER_MIN_ALPHA_WORD_RATIO}) AS ok_alpha_words,
    (stop_hits >= {T.GOPHER_MIN_STOP_HITS}) AS ok_stopwords
  FROM feats
), norm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
  FROM documents
), firstd AS (
  SELECT nt, MIN(doc_id) AS keep_id FROM norm GROUP BY nt
), dup AS (
  SELECT n.doc_id, (n.doc_id <> f.keep_id) AS is_dup
  FROM norm n JOIN firstd f USING (nt)
)
SELECT doc_id, reason, (reason = 'keep') AS keep
FROM (
  SELECT flags.doc_id,
    CASE
      WHEN dup.is_dup THEN 'exact_dup'
      WHEN NOT ok_word_count THEN 'word_count'
      WHEN NOT ok_mean_word_len THEN 'mean_word_len'
      WHEN NOT ok_symbol_ratio THEN 'symbol_ratio'
      WHEN NOT ok_alpha_words THEN 'alpha_ratio'
      WHEN NOT ok_stopwords THEN 'stopwords'
      ELSE 'keep'
    END AS reason
  FROM flags JOIN dup USING (doc_id)
)
"""


# --- type-token ratio per source ----------------------------------------------


def q_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.ttr_by_source(B.load_table(spark, sf_dir, "documents"))


SQL_TTR_BY_SOURCE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
)
SELECT source, COUNT(*) AS n_tokens,
       COUNT(DISTINCT term)::BIGINT AS n_types,
       (COUNT(DISTINCT term) * 1000000 // COUNT(*))::BIGINT AS ttr_ppm
FROM toks GROUP BY source
"""


# --- packing efficiency rollup ------------------------------------------------


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_packs = ceil(total/capacity): straddling tokens spill into a final
    # pack that holds no document START, so max(pack_id)+1 would undercount
    # and let fill_ppm exceed 1e6.
    packed = C.pack_sequences(B.load_table(spark, sf_dir, "documents"))
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddles"),
        )
        .select(
            "source",
            "n_docs",
            F.expr(
                f"(total_tokens + {C.PACK_CAPACITY} - 1)"
                f" div {C.PACK_CAPACITY}"
            ).alias("n_packs"),
            "total_tokens",
            "n_straddles",
            F.expr(
                f"total_tokens * 1000000L div "
                f"(((total_tokens + {C.PACK_CAPACITY} - 1)"
                f" div {C.PACK_CAPACITY}) * {C.PACK_CAPACITY})"
            ).alias("fill_ppm"),
        )
    )


SQL_PACK_EFFICIENCY = f"""
WITH t AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           )::BIGINT AS start
  FROM t
), p AS (
  SELECT source, n_tokens, start // {C.PACK_CAPACITY} AS pack_id,
         (start % {C.PACK_CAPACITY}) + n_tokens > {C.PACK_CAPACITY}
           AS straddles
  FROM c
)
SELECT source, n_docs, n_packs, total_tokens, n_straddles,
       (total_tokens * 1000000 // (n_packs * {C.PACK_CAPACITY}))::BIGINT
         AS fill_ppm
FROM (
  SELECT source, COUNT(*) AS n_docs,
         ((SUM(n_tokens)::BIGINT + {C.PACK_CAPACITY} - 1)
            // {C.PACK_CAPACITY})::BIGINT AS n_packs,
         SUM(n_tokens)::BIGINT AS total_tokens,
         SUM(straddles::BIGINT)::BIGINT AS n_straddles
  FROM p GROUP BY source
)
"""


def q_lm_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM score bins vs Gopher keep-rate calibration
    (operators.text.lm_quality_calibration)."""
    return T.lm_quality_calibration(B.load_table(spark, sf_dir, "documents"))


def _lm_calibration_sql() -> str:
    from cdc_stream_processor_spark.queries_corpus import _gopher_sql
    from cdc_stream_processor_spark.queries_extensions import (
        SQL_BIGRAM_LM_SCORE,
    )

    return f"""
WITH lm AS (
  SELECT * FROM ({SQL_BIGRAM_LM_SCORE})
), gq AS (
  SELECT doc_id, keep FROM ({_gopher_sql()})
), mx AS (
  SELECT MAX(mean_scaled_p) AS mx FROM lm
), binned AS (
  SELECT FLOOR((lm.mean_scaled_p / (mx.mx + 1.0)) * {float(T.CAL_BINS)}
         )::BIGINT AS lm_bin,
         lm.mean_scaled_p, gq.keep
  FROM lm JOIN gq USING (doc_id) CROSS JOIN mx
)
SELECT lm_bin, COUNT(*) AS n_docs,
       SUM(keep::BIGINT)::BIGINT AS n_keep,
       SUM(keep::BIGINT)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS keep_rate,
       MIN(mean_scaled_p) AS score_min,
       MAX(mean_scaled_p) AS score_max
FROM binned GROUP BY lm_bin
"""


# --- greedy max-coverage (facility-location) selection ------------------------

COVERAGE_K = 5
COVERAGE_GRAM = 2  # unigram universe is 31 tokens in the synthetic docs —
#                    2-gram shingles (~900 units) keep the greedy non-trivial


def q_coverage_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage doc selection over distinct word 2-gram
    shingles (operators.corpus.max_coverage_sample); the oracle unrolls
    the same k argmax rounds as chained CTEs (the kcenter_sample
    technique)."""
    return C.max_coverage_sample(
        B.load_table(spark, sf_dir, "documents"),
        k=COVERAGE_K,
        gram=COVERAGE_GRAM,
    )


def _coverage_sql() -> str:
    sh = TH.SHINGLES_SQL("toks", COVERAGE_GRAM)
    ctes = [
        f"dtt AS (\n  SELECT doc_id, {_TOKS} AS toks FROM documents\n)",
        f"dt AS (\n  SELECT doc_id, unnest({sh}) AS tok FROM dtt\n)",
    ]
    for r in range(COVERAGE_K):
        conds = []
        if r:
            conds.append(f"tok NOT IN (SELECT tok FROM cov{r - 1})")
            excl = " UNION ALL ".join(
                f"SELECT doc_id FROM c{i}" for i in range(r)
            )
            conds.append(f"doc_id NOT IN ({excl})")
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        ctes.append(
            f"g{r} AS (SELECT doc_id, count(*)::BIGINT AS gain FROM dt"
            f"{where} GROUP BY doc_id)"
        )
        ctes.append(
            f"c{r} AS (SELECT doc_id, gain FROM g{r}"
            " ORDER BY gain DESC, doc_id ASC LIMIT 1)"
        )
        if r == 0:
            ctes.append(
                "cov0 AS (SELECT DISTINCT tok FROM dt"
                " WHERE doc_id = (SELECT doc_id FROM c0))"
            )
        else:
            ctes.append(
                f"cov{r} AS (SELECT tok FROM cov{r - 1} UNION"
                f" SELECT tok FROM dt"
                f" WHERE doc_id = (SELECT doc_id FROM c{r}))"
            )
    legs = [
        f"SELECT {r}::BIGINT AS rank, doc_id, gain,"
        f" (SELECT count(*)::BIGINT FROM cov{r}) AS covered_total"
        f" FROM c{r}"
        for r in range(COVERAGE_K)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(legs)


# --- URL / domain rule filters (r8) -------------------------------------------
#
# The testdata documents carry no URL, so — like watermark_slack_audit's
# jittered-arrival channel — the registered queries attach a DETERMINISTIC
# synthetic URL per document (pure modular arithmetic on doc_id + the source
# column) that exercises every rule in operators.urlrules, then run the real
# filter. The oracle rebuilds the identical URL and rule cascade in SQL from
# the same module constants.

_URL_TLDS = ("com", "org", "net", "io", "xyz", "top", "info")
_URL_HEAVY_QS = "?" + "p=1&" * 9 + "z=2"  # 10 params > MAX_QUERY_PARAMS


def _synth_url_col() -> F.Column:
    d = F.col("doc_id")
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _URL_TLDS]), (d % 7 + 1).cast("int")
    )
    scheme = F.when(d % 19 == 0, F.lit("ftp")).otherwise(F.lit("https"))
    sub = (
        F.when(d % 11 == 0, F.lit("a.b.c.d."))
        .when(d % 11 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    seg = (
        F.when(d % 13 == 0, F.lit("/ads/page"))
        .when(d % 13 == 1, F.lit("/article"))
        .otherwise(F.lit("/item"))
    )
    longtail = F.when(d % 101 == 0, F.repeat(F.lit("/x"), 1200)).otherwise(
        F.lit("")
    )
    qs = F.when(d % 17 == 0, F.lit(_URL_HEAVY_QS)).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://"),
        sub,
        F.lit("site"),
        (d % 40).cast("string"),
        F.lit("."),
        tld,
        F.lit("/"),
        F.col("source"),
        seg,
        d.cast("string"),
        longtail,
        qs,
    )


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "source", _synth_url_col().alias("url"))


def q_url_filter_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.url_rule_filter(_docs_with_urls(spark, sf_dir))


def q_url_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.url_filter_summary(
        U.url_rule_filter(_docs_with_urls(spark, sf_dir))
    )


def q_domain_reject_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.domain_reject_rate(
        U.url_rule_filter(_docs_with_urls(spark, sf_dir))
    )


_URL_TLD_SQL = "[" + ", ".join(f"'{t}'" for t in _URL_TLDS) + "]"
_URL_SYNTH_CTE = f"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 19 = 0 THEN 'ftp' ELSE 'https' END) || '://'
    || (CASE WHEN doc_id % 11 = 0 THEN 'a.b.c.d.'
             WHEN doc_id % 11 = 1 THEN 'www.' ELSE '' END)
    || 'site' || (doc_id % 40)::VARCHAR || '.'
    || ({_URL_TLD_SQL})[(doc_id % 7)::INT + 1]
    || '/' || source
    || (CASE WHEN doc_id % 13 = 0 THEN '/ads/page'
             WHEN doc_id % 13 = 1 THEN '/article' ELSE '/item' END)
    || doc_id::VARCHAR
    || (CASE WHEN doc_id % 101 = 0 THEN repeat('/x', 1200) ELSE '' END)
    || (CASE WHEN doc_id % 17 = 0 THEN '{_URL_HEAVY_QS}' ELSE '' END)
    AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
         regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM u
), lab AS (
  SELECT doc_id, url, host,
         regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$', 1) AS domain,
         regexp_extract(host, '\\.([a-z0-9-]+)$', 1) AS tld,
         CASE
           WHEN scheme NOT IN {U.ALLOWED_SCHEMES!r}
             THEN 'bad_scheme'
           WHEN regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$', 1)
                IN {U.BLOCKED_DOMAINS!r}
             THEN 'blocked_domain'
           WHEN regexp_extract(host, '\\.([a-z0-9-]+)$', 1)
                IN {U.SPAM_TLDS!r}
             THEN 'spam_tld'
           WHEN regexp_matches(path, '{U.BLOCKED_PATH_RE}')
             THEN 'blocked_path'
           WHEN length(host) - length(replace(host, '.', '')) + 1
                > {U.MAX_HOST_LABELS}
             THEN 'deep_subdomain'
           WHEN (CASE WHEN query = '' THEN 0
                 ELSE length(query) - length(replace(query, '&', '')) + 1 END)
                > {U.MAX_QUERY_PARAMS}
             THEN 'query_heavy'
           WHEN length(url) > {U.MAX_URL_LEN}
             THEN 'too_long'
           ELSE 'keep'
         END AS reason
  FROM parts
)
"""

SQL_URL_FILTER_LABELS = (
    _URL_SYNTH_CTE
    + """
SELECT doc_id, url, host, domain, tld, reason,
       reason = 'keep' AS keep
FROM lab
"""
)

SQL_URL_FILTER_SUMMARY = (
    _URL_SYNTH_CTE
    + """
SELECT reason, COUNT(*)::BIGINT AS n_docs,
       COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM lab)::DOUBLE AS share
FROM lab GROUP BY reason
"""
)

SQL_DOMAIN_REJECT_RATE = (
    _URL_SYNTH_CTE
    + """
SELECT domain, COUNT(*)::BIGINT AS n_docs,
       SUM((reason != 'keep')::BIGINT)::BIGINT AS n_rejected,
       SUM((reason != 'keep')::BIGINT)::DOUBLE / COUNT(*)::DOUBLE
         AS reject_rate
FROM lab GROUP BY domain
"""
)


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "coverage_sample": (q_coverage_sample, _coverage_sql()),
    "lrs_dup_scale": (q_lrs_dup_scale, SQL_LRS_DUP_SCALE),
    "url_filter_labels": (q_url_filter_labels, SQL_URL_FILTER_LABELS),
    "url_filter_summary": (q_url_filter_summary, SQL_URL_FILTER_SUMMARY),
    "domain_reject_rate": (q_domain_reject_rate, SQL_DOMAIN_REJECT_RATE),
    "lm_quality_calibration": (q_lm_quality_calibration, _lm_calibration_sql()),
    "lrs_by_source": (q_lrs_by_source, SQL_LRS_BY_SOURCE),
    "winnowing_fingerprints": (q_winnowing_fingerprints, SQL_WINNOWING_FINGERPRINTS),
    "winnowing_overlap_pairs": (q_winnowing_overlap_pairs, SQL_WINNOWING_OVERLAP_PAIRS),
    "trigram_lm_score": (q_trigram_lm_score, SQL_TRIGRAM_LM_SCORE),
    "stupid_backoff_score": (q_stupid_backoff_score, _backoff_sql()),
    "contamination_report": (q_contamination_report, SQL_CONTAMINATION_REPORT),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "novelty_curve": (q_novelty_curve, SQL_NOVELTY_CURVE),
    "quality_pipeline_keep": (q_quality_pipeline_keep, _quality_pipeline_sql()),
    "ttr_by_source": (q_ttr_by_source, SQL_TTR_BY_SOURCE),
    "pack_efficiency": (q_pack_efficiency, SQL_PACK_EFFICIENCY),
}
