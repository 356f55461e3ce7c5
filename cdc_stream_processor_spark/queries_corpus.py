"""Driver-contract queries for the corpus-construction operators
(operators.corpus): deterministic split, test-set decontamination,
sequence packing, embedding quantization.

Each oracle SQL re-states the operator's exact arithmetic in DuckDB from
the same constants, so the comparison is bit-exact: integer LCG hashes,
integer window sums over the same deterministic order, IEEE double
division, trunc-toward-zero integerization (Spark CAST(double AS long)
truncates; DuckDB CAST rounds half-even, so the SQL spells trunc()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import corpus as C
from cdc_stream_processor_spark.operators import frequency as FR
from cdc_stream_processor_spark.operators import text as T
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.queries_extensions import DOCS_CTE
from cdc_stream_processor_spark.sources import batch as B

BENCH_MOD = 29  # doc_id % 29 == 0 plays the benchmark/eval set
DECON_MIN_OVERLAP = 5


# --- deterministic corpus split ----------------------------------------------


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.corpus_split(docs).select(
        "doc_id", "lang", "source", "split_key", "split"
    )


SQL_CORPUS_SPLIT = f"""
SELECT doc_id, lang, source, u AS split_key,
       CASE WHEN u < 0.1 THEN 'test'
            WHEN u < 0.3 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, lang, source,
         ((doc_id * {C.SPLIT_A} + {C.SPLIT_B}) % {C.SPLIT_P})::DOUBLE
           / {C.SPLIT_P}::DOUBLE AS u
  FROM documents
)
"""


# --- test-set decontamination ------------------------------------------------


def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    return C.decontaminate(corpus, bench, min_overlap=DECON_MIN_OVERLAP)


SQL_DECONTAMINATION = (
    DOCS_CTE
    + f"""
, inv AS (
  SELECT doc_id, unnest(hs) AS h FROM shh
), bench AS (
  SELECT doc_id AS bench_id, h FROM inv WHERE doc_id % {BENCH_MOD} = 0
), corp AS (
  SELECT doc_id, h FROM inv WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT c.doc_id, b.bench_id, COUNT(*) AS shared_shingles
FROM corp c JOIN bench b ON c.h = b.h
GROUP BY 1, 2
HAVING COUNT(*) >= {DECON_MIN_OVERLAP}
"""
)


# --- concat-and-chunk sequence packing ---------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.pack_sequences(B.load_table(spark, sf_dir, "documents"))


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, source,
         len({TH.TOKENS_SQL.format(text="text")}) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           )::BIGINT AS start
  FROM t
)
SELECT doc_id, source, n_tokens,
       start // {C.PACK_CAPACITY} AS pack_id,
       start % {C.PACK_CAPACITY} AS pack_pos,
       (start % {C.PACK_CAPACITY}) + n_tokens > {C.PACK_CAPACITY} AS straddles
FROM c
"""


# --- embedding int8 quantization ---------------------------------------------


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.quantize_embeddings(B.load_table(spark, sf_dir, "embeddings"))


SQL_QUANTIZE_EMBEDDINGS = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), m AS (
  SELECT vec_id, v,
         -- NULL-vector rows keep a NULL scale (Spark's aggregate(NULL)
         -- is NULL; DuckDB's list_prepend(0.0, NULL) would fold to the
         -- 0.0 seed and silently quantize a missing vector to zeros —
         -- the r12 --nulls audit find)
         CASE WHEN v IS NULL THEN NULL
              ELSE list_reduce(
                     list_prepend(0.0::DOUBLE,
                                  list_transform(v, x -> abs(x))),
                     (acc, x) -> greatest(acc, x))
                   / {float(C.QUANT_LEVELS)}
         END AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0
              THEN list_transform(v, x -> 0::BIGINT)
              ELSE list_transform(v, x -> trunc(x / scale)::BIGINT)
         END AS qv
  FROM m
)
SELECT vec_id, len(v) AS n_dims, scale,
       CASE WHEN qv IS NULL THEN NULL
            ELSE list_reduce(list_prepend(0::BIGINT, qv),
                   (acc, x) -> (acc * {TH.P_FACTOR} + (x + {C.QUANT_LEVELS}))
                     % {TH.P_MOD})
       END AS q_digest,
       CASE WHEN v IS NULL THEN NULL
            ELSE list_reduce(
              list_prepend(0.0::DOUBLE,
                list_transform(generate_series(1, len(v)),
                               i -> abs(v[i] - qv[i]::DOUBLE * scale))),
              (acc, x) -> greatest(acc, x))
       END AS max_abs_err
FROM q
"""


# --- deterministic global shuffle ---------------------------------------------


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.global_shuffle(B.load_table(spark, sf_dir, "documents"))


# The engine computes positions via bucketed distributed rank; the oracle
# states the same total order directly (the LCG is a bijection, so the
# (key, id) order is unique and the two formulations agree row-for-row).
SQL_GLOBAL_SHUFFLE = f"""
SELECT doc_id, h AS shuffle_key,
       ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos
FROM (
  SELECT doc_id, (doc_id * {C.SHUFFLE_A} + {C.SHUFFLE_B}) % {C.SPLIT_P} AS h
  FROM documents
)
"""


# --- corpus-frequency boilerplate token removal -------------------------------


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.remove_boilerplate_tokens(B.load_table(spark, sf_dir, "documents"))


# Same integer DF threshold (df*1000 > permille*ndocs), same normalized
# tokenizer; reconstruction is an order-preserving list_filter in both
# engines, so clean_text matches byte-for-byte.
SQL_BOILERPLATE_REMOVAL = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS toks FROM documents
), dfreq AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM toks)
  GROUP BY tok
), n AS (
  SELECT COUNT(*) AS ndocs FROM documents
), stop AS (
  -- COALESCE to the empty list: DuckDB's list() over ZERO qualifying rows
  -- is NULL, which would NULL the whole rewrite (every list_contains
  -- becomes NULL -> all tokens dropped); Spark's collect_set correctly
  -- yields [] and removes nothing. Caught by the r8 sf0.1 oracle probe,
  -- where no token crosses the ubiquity threshold.
  SELECT COALESCE(list(tok ORDER BY tok), []) AS stoplist
  FROM dfreq, n
  WHERE df * 1000 > {C.BOILERPLATE_DF_PERMILLE} * ndocs
)
SELECT t.doc_id,
       len(t.toks) AS n_tokens_before,
       len(t.toks)
         - len(list_filter(t.toks, x -> NOT list_contains(s.stoplist, x)))
         AS n_tokens_removed,
       -- empty-vs-NULL guard (r11 divergence audit): DuckDB's
       -- array_to_string returns NULL for the EMPTY list too, but the
       -- engine's array_join([]) is '' — an empty document must clean to
       -- the empty string, while a NULL document stays NULL
       CASE WHEN t.toks IS NOT NULL THEN
         COALESCE(array_to_string(
           list_filter(t.toks, x -> NOT list_contains(s.stoplist, x)), ' '),
           '')
       END AS clean_text
FROM toks t, stop s
"""


# --- segment-level exact dedup-and-rewrite ------------------------------------


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.remove_dup_segments(B.load_table(spark, sf_dir, "documents"))


# Same fixed-width segmentation (1-based inclusive list slice truncates the
# last partial segment identically), same integer first-occurrence composite
# doc_id*SEG_SHIFT+seg_id; reassembly orders by seg_id in both engines so
# clean_text matches byte-for-byte.
SQL_SEGMENT_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS t FROM documents
), segs AS (
  SELECT doc_id, u.i AS seg_id,
         array_to_string(
           t[(u.i*{C.SEGMENT_TOKENS}+1):((u.i+1)*{C.SEGMENT_TOKENS})], ' ')
           AS seg_text
  FROM toks,
       UNNEST(range(CAST(ceil(len(t)/{C.SEGMENT_TOKENS}.0) AS BIGINT))) AS u(i)
), firsts AS (
  SELECT seg_text, MIN(doc_id*{C.SEG_SHIFT} + seg_id) AS first_key
  FROM segs GROUP BY seg_text
), kept AS (
  SELECT s.doc_id, s.seg_id, s.seg_text
  FROM segs s JOIN firsts f
    ON s.seg_text = f.seg_text
   AND s.doc_id*{C.SEG_SHIFT} + s.seg_id = f.first_key
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg_text, ' ' ORDER BY seg_id) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(len(t.t)/{C.SEGMENT_TOKENS}.0) AS BIGINT) AS n_segs,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.clean_text, '') AS clean_text
FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


# --- BPE merge learning --------------------------------------------------------


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.bpe_merges(B.load_table(spark, sf_dir, "documents"))


def _bpe_sql(rounds: int = C.BPE_ROUNDS) -> str:
    """Replay the merge rounds as chained CTEs: each round is the same
    pair-count + total-ordered top-1, and the apply step is DuckDB's
    list_reduce — whose first-element initialization coincides with the
    engine fold's empty-string init, so the scans agree token-for-token."""

    def pair_cte(src: str) -> str:
        return f"""(
  SELECT t[i] AS p1, t[i+1] AS p2, SUM(freq)::BIGINT AS pair_count
  FROM (SELECT string_split(s, ' ') AS t, freq FROM {src}),
       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
  GROUP BY 1, 2
  ORDER BY pair_count DESC, p1 ASC, p2 ASC
  LIMIT 1
)"""

    def apply_cte(src: str, top: str) -> str:
        return f"""(
  SELECT list_reduce(string_split(s, ' '), (acc, x) ->
           CASE WHEN x = {top}.p2
                 AND (acc = {top}.p1
                      OR right(acc, length({top}.p1) + 1) = ' ' || {top}.p1)
                THEN left(acc, length(acc) - length({top}.p1))
                     || {top}.p1 || {top}.p2
                ELSE acc || ' ' || x END) AS s, freq
  FROM {src}, {top}
)"""

    parts = [
        f"""WITH words AS (
  SELECT word, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest({TH.TOKENS_SQL.format(text="text")}) AS word
        FROM documents)
  GROUP BY word
), w1 AS (
  SELECT array_to_string(string_split(word, ''), ' ') AS s, freq FROM words
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f", t{r} AS {pair_cte(f'w{r}')}")
        if r < rounds:
            parts.append(f", w{r + 1} AS {apply_cte(f'w{r}', f't{r}')}")
    selects = [
        f"SELECT {r} AS merge_rank, p1, p2, pair_count FROM t{r}"
        for r in range(1, rounds + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


SQL_BPE_MERGES = _bpe_sql()


# --- sliding-window document chunking -----------------------------------------


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.chunk_documents(B.load_table(spark, sf_dir, "documents"))


# Same integer chunk-count formula and 1-based slice bounds; DuckDB
# list slicing truncates past the end exactly like Spark's slice().
SQL_CHUNK_DOCUMENTS = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS toks FROM documents
), spans AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0, (greatest(len(toks) - {C.CHUNK_TOKENS}, 0) + {C.CHUNK_STRIDE - 1})
                // {C.CHUNK_STRIDE})) AS chunk_idx
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id, chunk_idx,
       len(toks[chunk_idx * {C.CHUNK_STRIDE} + 1
                 : chunk_idx * {C.CHUNK_STRIDE} + {C.CHUNK_TOKENS}])
         AS n_chunk_tokens,
       array_to_string(
         toks[chunk_idx * {C.CHUNK_STRIDE} + 1
              : chunk_idx * {C.CHUNK_STRIDE} + {C.CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM spans
"""


# --- temperature-based domain sampling ---------------------------------------


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.temperature_sample(docs).select(
        "doc_id", "lang", "sample_rate", "sample_key", "keep"
    )


# Mirrors the driver-side rate computation: sorted-by-stratum left-fold sum
# of sqrt weights (list_reduce from 0.0 = Python reduce from 0.0), then the
# identical IEEE expression tree for the rate; sqrt is correctly rounded in
# both engines so the whole chain is bit-exact.
SQL_TEMPERATURE_SAMPLE = f"""
WITH s AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT COUNT(*) AS nn FROM documents
), w AS (
  SELECT lang, n, sqrt(n::DOUBLE) AS w FROM s
), sw AS (
  SELECT list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY lang)),
                     (a, b) -> a + b) AS sw
  FROM w
), rates AS (
  SELECT w.lang,
         least(1.0, 0.5 * (w.w / sw.sw) * tot.nn::DOUBLE / w.n::DOUBLE)
           AS sample_rate
  FROM w, sw, tot
)
SELECT d.doc_id, d.lang, r.sample_rate,
       ((d.doc_id * {C.SAMPLE_A} + {C.SAMPLE_B}) % {C.SPLIT_P})::DOUBLE
         / {C.SPLIT_P}::DOUBLE AS sample_key,
       ((d.doc_id * {C.SAMPLE_A} + {C.SAMPLE_B}) % {C.SPLIT_P})::DOUBLE
         / {C.SPLIT_P}::DOUBLE < r.sample_rate AS keep
FROM documents d JOIN rates r ON d.lang = r.lang
"""


# --- distributed heavy hitters (Misra-Gries candidates + exact recount) -------


def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FR.heavy_hitter_tokens(B.load_table(spark, sf_dir, "documents"))


# The MG pass only proposes candidates (any superset of the true heavy
# hitters yields the same final rows after the exact recount), so the
# oracle states the definition directly: tokens with count·K > n.
SQL_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest({TH.TOKENS_SQL.format(text="text")}) AS tok FROM documents
), t AS (
  SELECT COUNT(*) AS n FROM toks
), c AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
)
SELECT c.tok, c.cnt FROM c, t WHERE c.cnt * {FR.HH_K} > t.n
"""


# --- count-min sketch point estimates -----------------------------------------

# probe set: common corpus terms + one guaranteed-absent key (true 0 ->
# the estimate shows pure collision mass, pinning the one-sided error)
CMS_PROBES = ["spark", "join", "window", "vector", "stream", "zz_absent_key"]


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = B.load_table(spark, sf_dir, "documents").select(
        F.explode(TH.tokens(F.col("text"))).alias("tok")
    )
    return FR.cms_point_estimates(toks, CMS_PROBES, key_col="tok")


def _cms_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    probes_sql = ", ".join(f"'{t}'" for t in CMS_PROBES)
    salts = ", ".join(str(i) for i in range(FR.CMS_DEPTH))
    h = (
        "('0x' || substr(md5(r.i::VARCHAR || {k}), 1, 8))::UBIGINT::BIGINT"
        f" % {FR.CMS_WIDTH}"
    )
    return f"""
WITH toks AS (
  SELECT unnest({toks}) AS key FROM documents
), cells AS (
  SELECT r.i AS row, {h.format(k="key")} AS col, COUNT(*) AS c
  FROM toks, unnest([{salts}]) AS r(i)
  GROUP BY 1, 2
), probes AS (
  SELECT t.term, r.i AS row, {h.format(k="t.term")} AS col
  FROM (SELECT unnest([{probes_sql}]) AS term) t, unnest([{salts}]) AS r(i)
), est AS (
  SELECT term, MIN(COALESCE(c, 0))::BIGINT AS est_count
  FROM probes LEFT JOIN cells USING (row, col) GROUP BY term
), tc AS (
  SELECT key AS term, COUNT(*) AS tc FROM toks
  WHERE key IN ({probes_sql}) GROUP BY key
)
SELECT est.term, est.est_count,
       COALESCE(tc.tc, 0)::BIGINT AS true_count,
       (est.est_count - COALESCE(tc.tc, 0))::BIGINT AS overestimate
FROM est LEFT JOIN tc USING (term)
"""


# --- greedy longest-match subword segmentation ---------------------------------


def q_subword_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style greedy segmentation of every distinct word against
    the learned top-V substring vocabulary
    (operators.corpus.subword_segment); the oracle replays the greedy
    walk via a best-step table + recursive CTE."""
    return C.subword_segment(B.load_table(spark, sf_dir, "documents"))


def _subword_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    return f"""
WITH RECURSIVE wf AS (
  SELECT tok AS word, count(*)::BIGINT AS freq
  FROM (SELECT unnest({toks}) AS tok FROM documents) GROUP BY tok
),
posl AS (
  SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM wf
),
cand AS (
  SELECT substr(word, i, l) AS piece, freq
  FROM (SELECT word, freq, i,
               unnest(generate_series({C.PIECE_MIN}, {C.PIECE_MAX})) AS l
        FROM posl)
  WHERE i + l - 1 <= length(word)
),
vocab AS (
  SELECT piece, sum(freq)::BIGINT AS freq FROM cand GROUP BY piece
  ORDER BY freq DESC, piece ASC LIMIT {C.SUBWORD_V}
),
best AS (
  SELECT p.word, p.i,
         coalesce(
           (SELECT max(length(v.piece)) FROM vocab v
            WHERE substr(p.word, p.i, length(v.piece)) = v.piece
              AND p.i + length(v.piece) - 1 <= length(p.word)),
           1)::BIGINT AS step
  FROM (SELECT word, i FROM posl) p
),
walk AS (
  SELECT word, 1::BIGINT AS pos, 0::BIGINT AS k FROM wf
  UNION ALL
  SELECT w.word, w.pos + b.step, w.k + 1
  FROM walk w JOIN best b ON b.word = w.word AND b.i = w.pos
  WHERE w.pos <= length(w.word)
),
segs AS (
  SELECT w.word, w.k AS idx, substr(w.word, w.pos::INT, b.step::INT) AS piece
  FROM walk w JOIN best b ON b.word = w.word AND b.i = w.pos
  WHERE w.pos <= length(w.word)
)
SELECT wf.word, wf.freq, count(*)::BIGINT AS n_pieces,
       string_agg(piece, ' ' ORDER BY idx) AS seg
FROM segs JOIN wf ON segs.word = wf.word
GROUP BY wf.word, wf.freq
"""


# --- tokenizer fertility by language -------------------------------------------


def q_subword_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-evaluation fertility report: per language, occurrence-
    weighted pieces-per-word (fertility) and chars-per-piece for the
    learned subword vocabulary — the standard "how well does the
    tokenizer fit each language slice" metric. Integer milli-ratios
    (`div`) keep the determinism contract; the oracle reuses the full
    subword walk as a CTE leg.

    100 TB: the (lang, word) count is one corpus-scale shuffle; the
    join against the segmented distinct-word table is vocabulary-scale;
    the per-lang rollup is aggregate-scale with map-side partials."""
    docs = B.load_table(spark, sf_dir, "documents")
    seg = C.subword_segment(docs).select("word", "n_pieces")
    lw = (
        docs.select(
            "lang", F.explode(TH.tokens(F.col("text"))).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        lw.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("n_pieces") * F.col("freq")).alias("n_pieces_total"),
            F.sum(F.length("word") * F.col("freq")).alias("n_chars_total"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces_total",
            F.expr("n_pieces_total * 1000 div n_words").alias(
                "fertility_milli"
            ),
            F.expr("n_chars_total * 1000 div n_pieces_total").alias(
                "chars_per_piece_milli"
            ),
        )
    )


def _subword_fertility_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    return f"""
WITH seg AS (SELECT word, n_pieces FROM ({_subword_sql()})),
lw AS (
  SELECT lang, tok AS word, count(*)::BIGINT AS freq
  FROM (SELECT lang, unnest({toks}) AS tok FROM documents) GROUP BY 1, 2
)
SELECT l.lang,
       sum(l.freq)::BIGINT AS n_words,
       sum(s.n_pieces * l.freq)::BIGINT AS n_pieces_total,
       (sum(s.n_pieces * l.freq) * 1000 // sum(l.freq))::BIGINT
         AS fertility_milli,
       (sum(length(l.word) * l.freq) * 1000 // sum(s.n_pieces * l.freq))::BIGINT
         AS chars_per_piece_milli
FROM lw l JOIN seg s ON s.word = l.word
GROUP BY l.lang
"""


# --- mergeable fixed-bin histogram quantile sketch ----------------------------


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state quantile estimation over order prices
    (operators.frequency.histogram_quantiles): bin counts are the
    sketch, map-side partial aggregation is the merge."""
    return FR.histogram_quantiles(B.load_table(spark, sf_dir, "orders"))


SQL_SKETCH_QUANTILES = f"""
WITH c AS (SELECT trunc(o_totalprice * 100)::BIGINT AS cents FROM orders
           -- NULL prices carry no quantile information (r12 --nulls)
           WHERE o_totalprice IS NOT NULL),
st AS (SELECT min(cents) AS mn, max(cents) AS mx, count(*)::BIGINT AS n FROM c),
w AS (SELECT mn, mx, n, ((mx - mn) // {FR.HIST_BINS} + 1)::BIGINT AS width FROM st),
h AS (
  SELECT ((cents - mn) // width)::BIGINT AS bin, count(*)::BIGINT AS cnt
  FROM c, w GROUP BY 1
),
hc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum FROM h),
t AS (
  SELECT q_pct, ((q_pct * n + 99) // 100)::BIGINT AS tgt, n, width, mn
  FROM (SELECT unnest([{", ".join(str(q) for q in FR.HIST_QS)}])::BIGINT AS q_pct), w
)
SELECT q_pct, n AS n_rows, bin,
       (mn + bin * width + ((tgt - (cum - cnt) - 1) * width) // cnt)::BIGINT
         AS est_cents,
       width AS bin_width_cents
FROM t JOIN hc ON cum >= tgt AND cum - cnt < tgt
"""


# --- sharded Misra-Gries summary (value-deterministic trim) -------------------


def q_misra_gries_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = B.load_table(spark, sf_dir, "documents").select(
        F.explode(TH.tokens(F.col("text"))).alias("tok")
    )
    return FR.misra_gries_summary(toks, key_col="tok")


# Trim rule restated: per md5-shard, t = the (k+1)-th largest count (with
# multiplicity; 0 when ≤ k distinct), keep c > t at estimate c - t. The
# (k+1)-th largest VALUE is ROW_NUMBER-independent of key tie order.
SQL_MISRA_GRIES_SUMMARY = f"""
WITH toks AS (
  SELECT unnest({TH.TOKENS_SQL.format(text="text")}) AS key FROM documents
), counts AS (
  SELECT ('0x' || substr(md5(key), 1, 8))::UBIGINT::BIGINT
           % {FR.MG_SUMMARY_SHARDS} AS shard,
         key, COUNT(*) AS c
  FROM toks GROUP BY 1, key
), thr AS (
  SELECT shard, c AS t FROM (
    SELECT shard, c, ROW_NUMBER() OVER (PARTITION BY shard
             ORDER BY c DESC, key ASC) AS r
    FROM counts
  ) WHERE r = {FR.MG_SUMMARY_K} + 1
), ns AS (
  SELECT shard, SUM(c)::BIGINT AS n_shard FROM counts GROUP BY shard
)
SELECT counts.shard, key,
       (c - COALESCE(t, 0))::BIGINT AS est_count,
       n_shard,
       COALESCE(t, 0)::BIGINT AS err_bound
FROM counts
LEFT JOIN thr USING (shard)
JOIN ns USING (shard)
WHERE c > COALESCE(t, 0)
"""


# --- grouped top-k frequent tokens --------------------------------------------

TOP_TOKENS_K = 5


def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-k tokens: exact grouped frequency ranking — one
    partial-agg shuffle for the (lang, tok) counts, then WindowGroupLimit
    top-k per lang (rank pushdown keeps k rows per partition pre-sort)."""
    from cdc_stream_processor_spark.operators.relational import top_k_per_group

    docs = B.load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "lang", F.explode(TH.tokens(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return top_k_per_group(
        counts,
        partition_by=["lang"],
        order_by=[F.col("cnt").desc(), F.col("tok").asc()],
        k=TOP_TOKENS_K,
        rank_col="rank",
    ).select("lang", "tok", "cnt", "rank")


SQL_TOP_TOKENS_PER_LANG = f"""
WITH c AS (
  SELECT lang, tok, COUNT(*) AS cnt
  FROM (
    SELECT lang, unnest({TH.TOKENS_SQL.format(text="text")}) AS tok
    FROM documents
  )
  GROUP BY 1, 2
)
SELECT lang, tok, cnt, rank FROM (
  SELECT lang, tok, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
  FROM c
)
WHERE rank <= {TOP_TOKENS_K}
"""


# --- deterministic stratified sample ------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return FR.stratified_sample(B.load_table(spark, sf_dir, "documents"))


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, stratum, sample_key, sample_rank FROM (
  SELECT doc_id, lang AS stratum,
         (doc_id * {FR.STRAT_A} + {FR.STRAT_B}) % {FR.STRAT_P} AS sample_key,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * {FR.STRAT_A} + {FR.STRAT_B}) % {FR.STRAT_P},
                    doc_id) AS sample_rank
  FROM documents
)
WHERE sample_rank <= {FR.STRAT_K}
"""


# --- end-to-end corpus prep pipeline ------------------------------------------

PIPELINE_MIN_TOKENS = 30


def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole prep in one call — what a training-data user actually
    runs: exact dedup (keep-first on normalized text), token-count quality
    gate, deterministic train/val/test split. Each stage is the already-
    verified operator; the composition itself is what this query proves.
    Plan: one dedup shuffle, then map-only gate + split."""
    from cdc_stream_processor_spark.operators import dedup as D

    docs = B.load_table(spark, sf_dir, "documents")
    keep = (
        docs.select("doc_id", D.normalized_text(F.col("text")).alias("_norm"))
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(keep, "doc_id")  # keep-first representatives only
    gated = kept.withColumn(
        "n_tokens", F.size(TH.tokens(F.col("text")))
    ).filter(F.col("n_tokens") >= PIPELINE_MIN_TOKENS)
    return C.corpus_split(gated).select(
        "doc_id", "lang", "n_tokens", "split"
    )


SQL_CORPUS_PREP_PIPELINE = f"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
), gated AS (
  SELECT d.doc_id, d.lang,
         len({TH.TOKENS_SQL.format(text="d.text")}) AS n_tokens
  FROM documents d JOIN keep k ON d.doc_id = k.doc_id
  WHERE len({TH.TOKENS_SQL.format(text="d.text")}) >= {PIPELINE_MIN_TOKENS}
)
SELECT doc_id, lang, n_tokens,
       CASE WHEN u < 0.1 THEN 'test'
            WHEN u < 0.3 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT *, ((doc_id * {C.SPLIT_A} + {C.SPLIT_B}) % {C.SPLIT_P})::DOUBLE
              / {C.SPLIT_P}::DOUBLE AS u
  FROM gated
)
"""




# --- Gopher quality rules ----------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return T.gopher_quality(docs)


def _gopher_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
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
), r AS (
  SELECT doc_id, n_words,
    ROUND(char_sum::DOUBLE / safe_words, 6) AS mean_word_len,
    ROUND((n_hash + n_ellipsis)::DOUBLE / safe_words, 6) AS symbol_ratio,
    ROUND(alpha_words::DOUBLE / safe_words, 6) AS alpha_word_ratio,
    stop_hits
  FROM feats
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
  stop_hits::INTEGER AS stop_hits,
  (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS})
    AS ok_word_count,
  (mean_word_len >= {T.GOPHER_MIN_MEAN_WORD_LEN}
   AND mean_word_len <= {T.GOPHER_MAX_MEAN_WORD_LEN}) AS ok_mean_word_len,
  (symbol_ratio < {T.GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
  (alpha_word_ratio >= {T.GOPHER_MIN_ALPHA_WORD_RATIO}) AS ok_alpha_words,
  (stop_hits >= {T.GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
  (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS}
   AND mean_word_len >= {T.GOPHER_MIN_MEAN_WORD_LEN}
   AND mean_word_len <= {T.GOPHER_MAX_MEAN_WORD_LEN}
   AND symbol_ratio < {T.GOPHER_MAX_SYMBOL_RATIO}
   AND alpha_word_ratio >= {T.GOPHER_MIN_ALPHA_WORD_RATIO}
   AND stop_hits >= {T.GOPHER_MIN_STOP_HITS}) AS keep
FROM r
"""


# --- per-source cap ----------------------------------------------------------


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.source_cap(docs)


SQL_SOURCE_CAP = f"""
SELECT doc_id, source, n_chars, src_rank FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS src_rank
  FROM documents
) WHERE src_rank <= {C.SOURCE_CAP}
"""


# --- inverted index ----------------------------------------------------------


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    # postings serialized to a ','-joined string: the external gate's
    # canonicalizer cannot hash array cells; integers join identically on
    # both engines.  The operator keeps the array form for downstream use.
    return C.inverted_index(docs).select(
        "term",
        "df",
        F.concat_ws(",", F.col("postings").cast("array<string>")).alias(
            "postings"
        ),
        "term_rank",
    )


def _inverted_index_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS term FROM documents
), agg AS (
  SELECT term, COUNT(*)::BIGINT AS df,
         array_to_string((list_sort(list(doc_id)))[1:{C.INDEX_MAX_POSTINGS}],
                         ',') AS postings
  FROM terms GROUP BY term
)
SELECT term, df, postings, term_rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS term_rank
  FROM agg
) WHERE term_rank <= {C.INDEX_TOP_TERMS}
"""


# --- Bloom-prefiltered decontamination ---------------------------------------


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    return C.bloom_decontaminate(corpus, bench, min_overlap=DECON_MIN_OVERLAP)


def _bloom_decon_sql() -> str:
    # replay the k probe positions in SQL (pure int64 arithmetic) and the
    # exact contamination rule. Probe membership is a JOIN against the
    # distinct benchmark position set (a list_contains() scan over the
    # position list would be O(|set|) per probe): a doc shingle maybe-hits
    # iff all k of its probe rows find their position in the set.
    m = 1 << C.BLOOM_BITS_LOG2
    pos_exprs = ", ".join(
        f"(h * {a} + {b}) % {TH.P_MOD} % {m}" for (a, b) in C.BLOOM_PARAMS
    )
    n_probes = len(C.BLOOM_PARAMS)
    return (
        DOCS_CTE
        + f"""
, bench_h AS (
  SELECT DISTINCT unnest(hs) AS h FROM shh WHERE doc_id % {BENCH_MOD} = 0
), pos AS (
  SELECT DISTINCT unnest([{pos_exprs}]) AS p FROM bench_h
), corp AS (
  SELECT doc_id, hs FROM shh WHERE doc_id % {BENCH_MOD} <> 0
), corp_h AS (
  SELECT doc_id, unnest(hs) AS h FROM corp
), probes AS (
  SELECT doc_id, h, unnest([{pos_exprs}]) AS p FROM corp_h
), phit AS (
  SELECT pr.doc_id, pr.h, COUNT(ps.p) AS set_probes
  FROM probes pr LEFT JOIN pos ps ON pr.p = ps.p
  GROUP BY 1, 2
), scored AS (
  SELECT c.doc_id,
         COALESCE(x.mh, 0)::INTEGER AS maybe_hits
  FROM corp c LEFT JOIN (
    SELECT doc_id, COUNT(*) AS mh FROM phit
    WHERE set_probes = {n_probes} GROUP BY doc_id
  ) x USING (doc_id)
), pairs AS (
  SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS shared
  FROM (SELECT doc_id, unnest(hs) AS h FROM corp) c
  JOIN (SELECT doc_id, unnest(hs) AS h FROM shh
        WHERE doc_id % {BENCH_MOD} = 0) b USING (h)
  GROUP BY 1, 2
), dirty AS (
  SELECT DISTINCT doc_id FROM pairs WHERE shared >= {DECON_MIN_OVERLAP}
)
SELECT s.doc_id, s.maybe_hits, d.doc_id IS NULL AS clean
FROM scored s LEFT JOIN dirty d USING (doc_id)
"""
    )


# --- deterministic weighted sampling -----------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.weighted_priority_sample(docs)


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars, priority, draw_rank FROM (
  SELECT doc_id, n_chars, priority,
         ROW_NUMBER() OVER (ORDER BY priority ASC, doc_id ASC) AS draw_rank
  FROM (
    SELECT doc_id, n_chars,
           (((doc_id * {C.SPLIT_A} + {C.SPLIT_B}) % {C.SPLIT_P})::DOUBLE
             / {C.SPLIT_P}::DOUBLE) / n_chars::DOUBLE AS priority
    FROM documents
    WHERE n_chars::DOUBLE > 0
  )
) WHERE draw_rank <= {C.WEIGHTED_SAMPLE_K}
"""


# --- deterministic dataset mixing --------------------------------------------


def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.dataset_mixture(docs)


def _dataset_mixture_sql() -> str:
    cases = "CASE " + " ".join(
        f"WHEN source = '{k}' THEN {float(v)!r}" for k, v in C.MIX_WEIGHTS.items()
    ) + " ELSE 1.0 END"
    u = f"(((doc_id * {C.SPLIT_A} + {C.SPLIT_B}) % {C.SPLIT_P})::DOUBLE / {C.SPLIT_P}::DOUBLE)"
    return f"""
SELECT doc_id, source, src_rank, src_rank::DOUBLE / ({cases}) AS mix_pos
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {u} ASC, doc_id ASC) AS src_rank
  FROM documents
)
"""


# --- vocabulary + token-id encoding ------------------------------------------


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    # ids preview serialized to a ','-joined string for the gate (see
    # q_inverted_index); the operator keeps the array form downstream
    return C.tokenize_ids(docs).select(
        "doc_id",
        "n_tokens",
        "oov_count",
        F.concat_ws(",", F.col("ids").cast("array<string>")).alias("ids"),
    )


def _tokenize_ids_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    return f"""
WITH d AS (
  SELECT doc_id, {toks} AS toks FROM documents
), flat AS (
  SELECT doc_id, unnest(toks) AS token FROM d
), counts AS (
  SELECT token, COUNT(*) AS n FROM flat GROUP BY token
), vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS token_id
  FROM counts ORDER BY n DESC, token ASC LIMIT {C.VOCAB_SIZE - 1}
), tokpos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM d
), mapped AS (
  SELECT t.doc_id, t.p, COALESCE(v.token_id, 0) AS tid
  FROM tokpos t LEFT JOIN vocab v ON t.toks[t.p] = v.token
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_tokens,
       SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END)::BIGINT AS oov_count,
       array_to_string(
         list(tid ORDER BY p) FILTER (WHERE p <= {C.IDS_PREVIEW}), ',')
         AS ids
FROM mapped
GROUP BY doc_id
"""


# --- span-corruption masks ---------------------------------------------------


def q_span_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    return C.span_corruption_masks(docs)


def _span_masks_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    return f"""
WITH d AS (
  SELECT doc_id, len({toks}) AS n FROM documents
), spans AS (
  SELECT doc_id, n,
         trunc(n / {C.SPAN_EVERY})::BIGINT AS ns
  FROM d
), seg AS (
  SELECT doc_id, n, ns,
         trunc(n / GREATEST(ns, 1))::BIGINT AS seg
  FROM spans WHERE ns > 0
), k AS (
  SELECT doc_id, n, ns, seg,
         unnest(generate_series(0, ns - 1)) AS mask_id
  FROM seg
)
SELECT doc_id, mask_id,
       mask_id * seg +
         ((((doc_id % {C.SPLIT_P}) * 31 + mask_id) % {C.SPLIT_P})
            * {C.SPLIT_A} + {C.SPLIT_B})
           % {C.SPLIT_P} % GREATEST(seg - {C.SPAN_LEN} + 1, 1) AS span_start,
       LEAST({C.SPAN_LEN}, seg)::BIGINT AS span_len
FROM k
"""


# --- feature hashing + k-fold assignment --------------------------------------


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.hashed_features(B.load_table(spark, sf_dir, "documents"))


SQL_HASHED_FEATURES = f"""
WITH toks AS (
  SELECT doc_id, unnest({TH.TOKENS_SQL.format(text="text")}) AS term
  FROM documents
), signed AS (
  SELECT doc_id,
         h % {C.HASH_DIM} AS slot,
         (1 - 2 * ((h // {C.HASH_DIM}) % 2))::BIGINT AS sign
  FROM (SELECT doc_id, {TH.char_polyhash_sql("term")} AS h FROM toks)
)
SELECT doc_id, slot, SUM(sign)::BIGINT AS feat
FROM signed
GROUP BY doc_id, slot
HAVING SUM(sign) != 0
"""


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.kfold_assign(
        B.load_table(spark, sf_dir, "documents")
    ).select("doc_id", "lang", "source", "fold")


SQL_KFOLD_ASSIGN = f"""
SELECT doc_id, lang, source,
       ({TH.char_polyhash_sql("doc_id::VARCHAR")} % {C.KFOLD_K})::INT AS fold
FROM documents
"""


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "corpus_split": (q_corpus_split, SQL_CORPUS_SPLIT),
    "hashed_features": (q_hashed_features, SQL_HASHED_FEATURES),
    "kfold_assign": (q_kfold_assign, SQL_KFOLD_ASSIGN),
    "decontamination_overlap": (q_decontamination_overlap, SQL_DECONTAMINATION),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "quantize_embeddings": (q_quantize_embeddings, SQL_QUANTIZE_EMBEDDINGS),
    "boilerplate_removal": (q_boilerplate_removal, SQL_BOILERPLATE_REMOVAL),
    "segment_dedup": (q_segment_dedup, SQL_SEGMENT_DEDUP),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "global_shuffle": (q_global_shuffle, SQL_GLOBAL_SHUFFLE),
    "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "temperature_sample": (q_temperature_sample, SQL_TEMPERATURE_SAMPLE),
    "heavy_hitter_tokens": (q_heavy_hitter_tokens, SQL_HEAVY_HITTERS),
    "subword_segment": (q_subword_segment, _subword_sql()),
    "subword_fertility": (q_subword_fertility, _subword_fertility_sql()),
    "sketch_quantiles": (q_sketch_quantiles, SQL_SKETCH_QUANTILES),
    "misra_gries_summary": (q_misra_gries_summary, SQL_MISRA_GRIES_SUMMARY),
    "cms_token_counts": (q_cms_token_counts, _cms_sql()),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "top_tokens_per_lang": (q_top_tokens_per_lang, SQL_TOP_TOKENS_PER_LANG),
    "corpus_prep_pipeline": (q_corpus_prep_pipeline, SQL_CORPUS_PREP_PIPELINE),
    "gopher_quality": (q_gopher_quality, _gopher_sql()),
    "source_cap": (q_source_cap, SQL_SOURCE_CAP),
    "inverted_index": (q_inverted_index, _inverted_index_sql()),
    "bloom_decontaminate": (q_bloom_decontaminate, _bloom_decon_sql()),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "dataset_mixture": (q_dataset_mixture, _dataset_mixture_sql()),
    "tokenize_ids": (q_tokenize_ids, _tokenize_ids_sql()),
    "span_masks": (q_span_masks, _span_masks_sql()),
}
