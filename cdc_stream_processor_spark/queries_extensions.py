"""Driver-contract queries for the training-data-pipeline extensions:
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), vector similarity
(brute-force cosine + LSH), and text analysis.

Oracle SQL is generated from the same constants as the Spark operators
(cdc_stream_processor_spark.functions.texthash), so both engines evaluate the
identical deterministic arithmetic — polynomial char hashes, affine minhash
permutations, left-fold dot products — verified bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import dedup as D
from cdc_stream_processor_spark.operators import multimodal as M
from cdc_stream_processor_spark.operators import similarity as S
from cdc_stream_processor_spark.operators import text as X
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.sources import batch as B
from cdc_stream_processor_spark.sources import files as FS

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 2  # word-soup test corpus clusters tightly; ≤2 keeps pairs meaningful
TOPK = 5
QUERY_STRIDE = 50  # vec_id % 50 == 0 are the similarity query vectors


# Shared oracle CTEs over documents: tokens, shingle hashes, token hashes.
DOCS_CTE = f"""
WITH docs AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS toks FROM documents
), sh AS (
  SELECT doc_id, {TH.SHINGLES_SQL("toks", 3)} AS sset FROM docs
), shh AS (
  SELECT doc_id, list_transform(sset, s -> {TH.char_polyhash_sql("s")}) AS hs
  FROM sh WHERE len(sset) > 0
), tokh AS (
  SELECT doc_id, list_transform(toks, t -> {TH.char_polyhash_sql("t")}) AS hs
  FROM docs WHERE len(toks) > 0
)
"""


# --- exact dedup --------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(B.load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
"""


# --- MinHash LSH ----------------------------------------------------------------


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        B.load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


def _minhash_pairs_ctes(recursive: bool = False) -> str:
    """CTE chain ending in pairs(doc_a, doc_b, jaccard) — the verified
    MinHash-LSH near-dup pairs. `recursive=True` emits WITH RECURSIVE so a
    downstream CTE (connected components) may self-reference."""
    rows = D.N_MINHASH // D.N_BANDS
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {TH.P_MOD}))"
        for a, b in (D._minhash_params(i) for i in range(D.N_MINHASH))
    )
    head = DOCS_CTE.replace("WITH ", "WITH RECURSIVE ", 1) if recursive else DOCS_CTE
    return (
        head
        + f"""
, mh AS (
  SELECT doc_id, hs, [{mins}] AS m FROM shh
), bands AS (
  SELECT doc_id, hs, g.i AS band_idx,
    list_reduce(list_prepend(0::BIGINT, m[g.i*{rows}+1 : g.i*{rows}+{rows}]),
                (acc, x) -> (acc * 31 + x) % {TH.P_MOD}) AS band_hash
  FROM mh, generate_series(0, {D.N_BANDS - 1}) g(i)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), scored AS (
  SELECT c.doc_a, c.doc_b,
    ROUND(len(list_intersect(x.hs, y.hs))::DOUBLE /
          (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))::DOUBLE,
          6) AS jaccard
  FROM cand c JOIN shh x ON c.doc_a = x.doc_id JOIN shh y ON c.doc_b = y.doc_id
), pairs AS (
  SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
)"""
    )


def _minhash_sql() -> str:
    return _minhash_pairs_ctes() + "\nSELECT doc_a, doc_b, jaccard FROM pairs\n"


# --- fuzzy-dedup clustering (connected components over the pair graph) --------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.minhash_lsh_pairs(
        B.load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )
    cc = D.connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"), F.col("rep").alias("cluster_rep"))


# Transitive-closure CC oracle: reach(id, r) enumerates every node r reachable
# from id over the symmetrized pair graph; rep = MIN(r). Exponential-closure
# cost is fine at oracle scale; the Spark side uses log-round propagation.
_CC_CTES = """
, edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
), comp AS (
  SELECT id, MIN(r) AS rep FROM reach GROUP BY id
)"""


def _dedup_clusters_sql() -> str:
    return (
        _minhash_pairs_ctes(recursive=True)
        + _CC_CTES
        + "\nSELECT id AS doc_id, rep AS cluster_rep FROM comp\n"
    )


def q_minhash_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = D.minhash_dedup(
        B.load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )
    return kept.select("doc_id", "lang", "source", "n_chars")


def _minhash_dedup_kept_sql() -> str:
    return (
        _minhash_pairs_ctes(recursive=True)
        + _CC_CTES
        + """
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> rep)
"""
    )


# --- SimHash --------------------------------------------------------------------


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(B.load_table(spark, sf_dir, "documents"))


def _simhash_fp_sql_body() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1::BIGINT ELSE (-1)::BIGINT END)), (a, v) -> a + v) > 0 "
        f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(D.SIMHASH_BITS)
    )
    return f"SELECT doc_id, {bits} AS simhash FROM tokh"


def _simhash_fp_sql() -> str:
    return DOCS_CTE + _simhash_fp_sql_body()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(
        B.load_table(spark, sf_dir, "documents"), max_hamming=SIMHASH_MAX_HAMMING
    )


def _simhash_pairs_sql() -> str:
    # Oracle is the O(n²) brute force; the engine's band-blocked join is
    # guaranteed equivalent for max_hamming < N bands (pigeonhole).
    return (
        DOCS_CTE
        + f"""
, fp AS ({_simhash_fp_sql_body()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""
    )


# --- n-gram Jaccard ---------------------------------------------------------------


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        B.load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


NGRAM_JACCARD_SQL = (
    DOCS_CTE
    + f"""
, inv AS (
  SELECT doc_id, unnest(hs) AS h FROM shh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, len(hs) AS n FROM shh
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.shared::DOUBLE / (x.n + y.n - p.shared)::DOUBLE, 6) AS jaccard
FROM pairs p JOIN sizes x ON p.doc_a = x.doc_id JOIN sizes y ON p.doc_b = y.doc_id
WHERE p.shared::DOUBLE / (x.n + y.n - p.shared)::DOUBLE >= {JACCARD_THRESHOLD}
"""
)


# --- vector similarity -------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return S.brute_force_topk(queries, emb, k=TOPK)


_FOLD_SUM = "list_reduce(list_prepend(0.0::DOUBLE, {arr}), (acc, x) -> acc + x)"


def _cosine_topk_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])"
    )
    nq = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), q AS (
  SELECT * FROM v WHERE vec_id % {QUERY_STRIDE} = 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cosine_sim
  FROM q, v c
  WHERE q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


EMB_DIM = 64  # testdata embeddings dimension (oracle SQL is data-static)
LSH_PROBE_HAMMING = 1


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN. Fully deterministic (LCG hyperplanes, fold-order
    projections), so the DuckDB oracle reproduces the exact candidate set
    and ranking — recall vs brute force is additionally pinned in
    tests/test_extensions.py."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    dim = B.embedding_dim(sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return S.lsh_topk(
        queries, emb, dim=dim, k=TOPK, probe_hamming=LSH_PROBE_HAMMING
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN. The spherical k-means is deterministic (init = first
    nlist rows by id, 10 fixed iterations, sequential-fold float math), so
    the DuckDB oracle replays training, assignment, and probing exactly —
    recall vs brute force is additionally pinned in tests."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return S.ivf_topk(queries, emb, k=TOPK)


# The hyperplane-weight LCG (similarity._plane_weight) replayed in SQL:
# pure int64 arithmetic, then an exact power-of-two division, so the DOUBLE
# weights are bit-identical to the Python floats.
_PLANE_W_SQL = (
    "((1103515245 * ((t.t * 64 + p.p) * 8192 + d) + 12345) % 2147483648)"
    " / 2147483648.0 - 0.5"
)


def _lsh_ann_sql(dim: int = EMB_DIM) -> str:
    masks = S.probe_masks(S.N_PLANES, LSH_PROBE_HAMMING)
    proj = _FOLD_SUM.format(
        arr="list_transform(list_zip(v.e, pl.w), z -> z[1] * z[2])"
    )
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(q.e, c.e), z -> z[1] * z[2])"
    )
    nq = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), pl AS (
  SELECT t.t AS tbl, p.p AS plane,
         list_transform(generate_series(0, {dim - 1}), d -> {_PLANE_W_SQL}) AS w
  FROM generate_series(0, {S.N_TABLES - 1}) t(t),
       generate_series(0, {S.N_PLANES - 1}) p(p)
), proj AS (
  SELECT v.vec_id, pl.tbl, pl.plane, {proj} AS pr FROM v, pl
), bk AS (
  SELECT vec_id, tbl,
         SUM(CASE WHEN pr > 0 THEN (1::BIGINT << plane) ELSE 0 END)::BIGINT
           AS bucket
  FROM proj GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM bk qb, unnest({masks}::BIGINT[]) m(msk)
  JOIN bk cb ON qb.tbl = cb.tbl AND xor(qb.bucket, m.msk) = cb.bucket
  WHERE qb.vec_id % {QUERY_STRIDE} = 0 AND qb.vec_id != cb.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cosine_sim
  FROM cand
  JOIN v q ON cand.query_id = q.vec_id
  JOIN v c ON cand.neighbor_id = c.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


def _ivf_ann_sql(dim: int = EMB_DIM, iters: int = 10) -> str:
    """Unrolled spherical-k-means mirror of similarity.ivf_topk: one CTE pair
    (assign, update) per iteration, every float reduction a list_reduce fold
    in the same order as the numpy sequential loops."""
    zerovec = f"list_transform(generate_series(1, {dim}), x -> 0.0::DOUBLE)"

    def sq(expr: str) -> str:
        return _FOLD_SUM.format(arr=f"list_transform({expr}, x -> x * x)")

    def dotf(a: str, b: str) -> str:
        return _FOLD_SUM.format(
            arr=f"list_transform(list_zip({a}, {b}), z -> z[1] * z[2])"
        )

    vecsum = (
        f"list_reduce(list_prepend({zerovec}, list(u ORDER BY vec_id)), "
        "(acc, x) -> list_transform(list_zip(acc, x), z -> z[1] + z[2]))"
    )
    # every CTE is MATERIALIZED: cents{i-1} is referenced twice per
    # iteration, and DuckDB's default CTE inlining would re-evaluate the
    # whole training chain exponentially (2^iters) without it.
    parts = [
        f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), vn AS MATERIALIZED (
  SELECT vec_id, e,
         list_transform(e, x -> x / greatest(sqrt({sq('e')}), 1e-12)) AS u
  FROM v
), samp AS MATERIALIZED (
  SELECT vec_id, u FROM vn ORDER BY vec_id LIMIT {S.IVF_TRAIN_LIMIT}
), cents0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, u AS c
  FROM (SELECT vec_id, u FROM samp ORDER BY vec_id LIMIT {S.IVF_NLIST})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS MATERIALIZED (
  SELECT vec_id, u, cid FROM (
    SELECT s.vec_id, s.u, c.cid,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id
                         ORDER BY {dotf('s.u', 'c.c')} DESC, c.cid ASC) AS rn
    FROM samp s CROSS JOIN cents{i - 1} c
  ) WHERE rn = 1
), m{i} AS MATERIALIZED (
  SELECT cid, list_transform(s, x -> x / cnt) AS mean FROM (
    SELECT cid, COUNT(*) AS cnt, {vecsum} AS s FROM a{i} GROUP BY cid
  )
), cents{i} AS MATERIALIZED (
  SELECT cid, CASE WHEN mean IS NULL OR mn <= 0 THEN c
                   ELSE list_transform(mean, x -> x / mn) END AS c
  FROM (
    SELECT p.cid, p.c, m.mean,
           CASE WHEN m.mean IS NULL THEN NULL
                ELSE sqrt({sq('m.mean')}) END AS mn
    FROM cents{i - 1} p LEFT JOIN m{i} m ON p.cid = m.cid
  )
)"""
        )
    parts.append(
        f""", cells AS (
  SELECT vec_id, e, cid AS cell FROM (
    SELECT vn.vec_id, vn.e, c.cid,
      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
                         ORDER BY {dotf('vn.u', 'c.c')} DESC, c.cid ASC) AS rn
    FROM vn CROSS JOIN cents{iters} c
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, e AS qe, cid AS cell FROM (
    SELECT vn.vec_id, vn.e, c.cid,
      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
                         ORDER BY {dotf('vn.u', 'c.c')} DESC, c.cid ASC) AS rn
    FROM vn CROSS JOIN cents{iters} c
    WHERE vn.vec_id % {QUERY_STRIDE} = 0
  ) WHERE rn <= {S.IVF_NPROBE}
), scored AS (
  SELECT p.query_id, x.vec_id AS neighbor_id,
         ROUND({dotf('p.qe', 'x.e')} /
               (sqrt({sq('p.qe')}) * sqrt({sq('x.e')})), 6) AS cosine_sim
  FROM probes p JOIN cells x ON p.cell = x.cell
  WHERE p.query_id != x.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""
    )
    return "".join(parts)


# --- embedding-cosine near-dup ------------------------------------------------

NEAR_DUP_COSINE = 0.4  # synthetic corpus has no true dups; 0.4 → "near" pairs


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface runs the sub-quadratic LSH-candidate path (the
    100 TB shape); the oracle states exact all-pairs SQL — agreement also
    re-proves the analytic no-miss bound on this corpus every gate run.
    The exact blocked operator stays available as S.cosine_pairs (equality
    asserted in tests)."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    dim = B.embedding_dim(sf_dir)
    return S.lsh_near_dup_pairs(emb, threshold=NEAR_DUP_COSINE, dim=dim)


def _near_dup_pairs_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])"
    )
    na = _FOLD_SUM.format(arr="list_transform(a.e, x -> x * x)")
    nb = _FOLD_SUM.format(arr="list_transform(b.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
)
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND({dot} / (sqrt({na}) * sqrt({nb})), 6) AS cosine_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE cosine_sim >= {NEAR_DUP_COSINE}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    dim = B.embedding_dim(sf_dir)
    return S.embedding_near_dup(
        emb, threshold=NEAR_DUP_COSINE, method="lsh", dim=dim
    )


def _near_dup_keep_sql() -> str:
    return f"""
WITH pairs AS ({_near_dup_pairs_sql()})
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_b FROM pairs)
"""


# --- multimodal --------------------------------------------------------------

FRAME_EVERY_N = 16
FRAME_MAX = 4

_HEXB = (
    "((strpos('0123456789abcdef', substr(h, {p1}, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, {p2}, 1)) - 1)"
)


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub-decode features over the binary media column (mapInPandas
    plumbing); sha256-derived values reproduced exactly by the oracle."""
    media = M.media_from_documents(B.load_table(spark, sf_dir, "documents"))
    return M.image_features(media).select(
        "media_id", "n_bytes", "sha256", "width", "height", "mean_luma"
    )


def _image_features_sql() -> str:
    b0 = _HEXB.format(p1=1, p2=2)
    b1 = _HEXB.format(p1=3, p2=4)
    b2 = _HEXB.format(p1=5, p2=6)
    return f"""
WITH img AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         sha256(text) AS h
  FROM documents WHERE doc_id % 4 NOT IN (0, 1)
)
SELECT media_id, n_bytes, h AS sha256,
       64 + {b0} % 192 AS width,
       64 + {b1} % 192 AS height,
       {b2} / 255.0 AS mean_luma
FROM img
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub-decode audio features (rate/duration/loudness) over the binary
    media column; sha256-derived values reproduced exactly by the oracle."""
    media = M.media_from_documents(B.load_table(spark, sf_dir, "documents"))
    return M.audio_features(media)


def _audio_features_sql() -> str:
    b0 = _HEXB.format(p1=1, p2=2)
    b1 = _HEXB.format(p1=3, p2=4)
    b2 = _HEXB.format(p1=5, p2=6)
    return f"""
WITH clip AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         sha256(text) AS h
  FROM documents WHERE doc_id % 4 = 1
)
SELECT media_id, n_bytes, h AS sha256,
       8000 + {b0} * 100 AS sample_rate,
       ROUND(1.0 + {b1} / 16.0, 6) AS duration_s,
       ROUND({b2} / 255.0, 6) AS rms
FROM clip
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling fan-out (one row per sampled frame); frame
    payloads decoded back to text (ASCII corpus) for the oracle compare."""
    media = M.media_from_documents(B.load_table(spark, sf_dir, "documents"))
    frames = M.sample_frames(media, every_n=FRAME_EVERY_N, max_frames=FRAME_MAX)
    return frames.select(
        "media_id",
        "frame_idx",
        F.decode(F.col("frame_payload"), "UTF-8").alias("frame_text"),
    )


def _frame_sample_sql() -> str:
    return f"""
WITH vids AS (
  -- COALESCE (r11 divergence audit): the engine's sample_frames stub
  -- treats a NULL payload as b'' (one empty frame), but substr/length of
  -- NULL propagated NULL here — a NULL-text media row emitted
  -- (frame_idx 0, NULL) instead of (0, '')
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         length(COALESCE(text, '')) AS n
  FROM documents
  WHERE doc_id % 4 = 0
)
, idx AS (
  SELECT media_id, text,
         unnest(generate_series(0,
           least(greatest(n // {FRAME_EVERY_N}, 1), {FRAME_MAX}) - 1))
           AS frame_idx
  FROM vids
)
SELECT media_id, frame_idx,
       substr(text, frame_idx * {FRAME_EVERY_N} + 1, {FRAME_EVERY_N})
         AS frame_text
FROM idx
"""


# --- text analysis -----------------------------------------------------------------


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.text_profile(B.load_table(spark, sf_dir, "documents"))


def _lang_scores_sql() -> dict[str, str]:
    toks = "list_distinct(" + TH.TOKENS_SQL.format(text="text") + ")"
    return {
        lang: f"len(list_intersect({toks}, {list(words)}))"
        for lang, words in X.STOPWORDS.items()
    }


def _text_profile_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    scores = _lang_scores_sql()
    best = "greatest(" + ", ".join(scores[lg] for lg in X.LANG_ORDER) + ")"
    lang_case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    for lg in X.LANG_ORDER:
        lang_case += f"WHEN {scores[lg]} = {best} THEN '{lg}' "
    lang_case += "ELSE 'und' END"
    en_stop = list(X.STOPWORDS["en"])
    n_stop = f"len(list_intersect(list_distinct({toks}), {en_stop}))"
    alpha = "length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))"
    digit = "length(regexp_replace(text, '[^0-9]', '', 'g'))"
    punct = "length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))"
    safe = "greatest(length(text), 1)::DOUBLE"
    ntok = f"len({toks})"
    mean_tok = f"ROUND({alpha}::DOUBLE / greatest({ntok}, 1), 6)"
    punct_ratio = f"ROUND({punct}::DOUBLE / {safe}, 6)"
    digit_ratio = f"ROUND({digit}::DOUBLE / {safe}, 6)"
    length_term = f"least({ntok}::DOUBLE / 64.0, 1.0)"
    stop_term = f"least({n_stop}::DOUBLE / 4.0, 1.0)"
    noise = f"least(({punct_ratio} + {digit_ratio}) * 2.0, 1.0)"
    quality = f"ROUND(0.5 * {length_term} + 0.5 * {stop_term} - 0.3 * {noise}, 6)"
    # NULL-text guard (r11 divergence audit): the fold's list_prepend
    # seed turns a NULL token list into [0] and returned fingerprint 0
    # for a NULL document, while the engine side (doc_fingerprint over a
    # NULL text) yields NULL — the fingerprint of absent data is absent,
    # and 0 is a reachable hash value a real document could own
    fp_fold = (
        f"CASE WHEN text IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({toks}, t -> {TH.char_polyhash_sql('t')})), "
        f"(acc, h) -> (acc * {TH.FP_FACTOR} + (h % {TH.FP_MOD})) % {TH.FP_MOD})"
        f" END"
    )
    bpe = f"len(regexp_extract_all(text, '{X.BPE_TOKEN_RE}'))"
    return f"""
SELECT doc_id,
  length(text) AS n_chars,
  {ntok} AS n_tokens_ws,
  {bpe} AS n_tokens_bpe,
  {mean_tok} AS mean_token_len,
  {punct_ratio} AS punct_ratio,
  {digit_ratio} AS digit_ratio,
  {n_stop} AS stopword_hits,
  {quality} AS quality_score,
  {lang_case} AS lang_pred,
  {fp_fold} AS fingerprint
FROM documents
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.repetition_profile(B.load_table(spark, sf_dir, "documents"))


def _doc_repetition_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    alpha = "length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))"
    mean_tok = f"ROUND({alpha}::DOUBLE / greatest(len({toks}), 1), 6)"
    lines = "string_split(text, chr(10))"
    dlf = f"1.0 - (len(list_distinct({lines}))::DOUBLE / len({lines})::DOUBLE)"
    return f"""
WITH tdocs AS (
  SELECT doc_id, {toks} AS toks, {mean_tok} AS mean_token_len,
         {dlf} AS dup_line_frac
  FROM documents
), ix AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM tdocs
), bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram FROM ix
), bgc AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
), bga AS (
  SELECT doc_id, MAX(c)::DOUBLE / SUM(c)::DOUBLE AS tbf
  FROM bgc GROUP BY doc_id
), feat AS (
  SELECT t.doc_id, len(t.toks) AS n_tokens, t.mean_token_len,
         t.dup_line_frac, COALESCE(bga.tbf, 0.0) AS top_bigram_frac
  FROM tdocs t LEFT JOIN bga ON t.doc_id = bga.doc_id
)
SELECT doc_id, n_tokens, mean_token_len, dup_line_frac, top_bigram_frac,
  (n_tokens >= {X.REP_MIN_TOKENS} AND n_tokens <= {X.REP_MAX_TOKENS}
   AND mean_token_len >= {X.REP_MEAN_LEN_LO}
   AND mean_token_len <= {X.REP_MEAN_LEN_HI}
   AND dup_line_frac <= {X.REP_MAX_DUP_LINE_FRAC}
   AND top_bigram_frac <= {X.REP_MAX_TOP_BIGRAM_FRAC}) AS keep
FROM feat
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.pii_scan(B.load_table(spark, sf_dir, "documents"))


def _pii_scan_sql() -> str:
    em, ip, ph = X.PII_EMAIL_RE, X.PII_IPV4_RE, X.PII_PHONE_RE
    cnt = lambda pat: f"len(regexp_extract_all(text, '{pat}'))"  # noqa: E731
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{em}', '[EMAIL]', 'g'), '{ip}', '[IP]', 'g'), '{ph}', '[PHONE]', 'g')"
    )
    return f"""
SELECT doc_id,
  {cnt(em)} AS n_emails,
  {cnt(ip)} AS n_ipv4,
  {cnt(ph)} AS n_phones,
  ({cnt(em)} + {cnt(ip)} + {cnt(ph)}) > 0 AS has_pii,
  md5({redacted}) AS redacted_md5
FROM documents
"""


def q_doc_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.document_sentiment(B.load_table(spark, sf_dir, "documents"))


def _doc_sentiment_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    pos = list(X.POSITIVE_WORDS)
    neg = list(X.NEGATIVE_WORDS)
    p = f"len(list_filter({toks}, t -> list_contains({pos}, t)))"
    n = f"len(list_filter({toks}, t -> list_contains({neg}, t)))"
    return f"""
SELECT doc_id, {p} AS pos_hits, {n} AS neg_hits,
  CASE WHEN {p} + {n} = 0 THEN 0.0
       ELSE ROUND(({p} - {n})::DOUBLE / ({p} + {n})::DOUBLE, 6)
  END AS sentiment
FROM documents
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.tfidf_top_terms(B.load_table(spark, sf_dir, "documents"))


# Same tokenizer, same integer counts, and the score is the identical IEEE
# expression tree tf·(N/df) — int→double conversion, one division, one
# multiplication, all exactly rounded, so hashes are bit-equal with no
# rounding step. Ranking tie-break (score DESC, term ASC) is a total order
# because terms are distinct within a document.
SQL_TFIDF_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS toks FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf::DOUBLE * (n.n_docs::DOUBLE / d.df::DOUBLE) AS score
  FROM tf t JOIN dfreq d USING (term), n
)
SELECT doc_id, term, tf, df, score, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
WHERE rank <= {X.TFIDF_TOP_K}
"""


# --- incremental dedup (new batch vs existing corpus) -------------------------

INCR_NEW_MOD = 5  # doc_id % 5 == 0 plays the day's new batch; rest = corpus


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    return D.incremental_dedup(new, corpus, threshold=JACCARD_THRESHOLD)


def _incremental_dedup_sql() -> str:
    """Bands over ALL docs (minhash depends only on the text), candidate
    join restricted to new×corpus plus new×(earlier-in-batch) — the SQL
    statement of incremental_dedup's admit/reject rule."""
    return (
        _minhash_pairs_ctes().split(", cand AS")[0]
        + f""", cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS other_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % {INCR_NEW_MOD} = 0
    AND (b.doc_id % {INCR_NEW_MOD} <> 0 OR b.doc_id < a.doc_id)
), scored AS (
  SELECT c.new_id, c.other_id,
    ROUND(len(list_intersect(x.hs, y.hs))::DOUBLE /
          (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))::DOUBLE,
          6) AS jaccard
  FROM cand c JOIN shh x ON c.new_id = x.doc_id
              JOIN shh y ON c.other_id = y.doc_id
), dups AS (
  SELECT new_id, COUNT(*) AS n_dups FROM scored
  WHERE jaccard >= {JACCARD_THRESHOLD} GROUP BY new_id
)
SELECT s.doc_id, COALESCE(d.n_dups, 0) AS n_dups, d.new_id IS NULL AS keep
FROM (SELECT doc_id FROM shh WHERE doc_id % {INCR_NEW_MOD} = 0) s
LEFT JOIN dups d ON s.doc_id = d.new_id
"""
    )


# --- token-rarity quality score -----------------------------------------------


def q_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.doc_rarity(B.load_table(spark, sf_dir, "documents"))


SQL_DOC_RARITY = f"""
WITH toks AS (
  SELECT doc_id, unnest({TH.TOKENS_SQL.format(text="text")}) AS term
  FROM documents
), dfreq AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
), ranked AS (
  SELECT term, DENSE_RANK() OVER (ORDER BY df DESC, term) AS rank FROM dfreq
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       SUM(r.rank)::DOUBLE / COUNT(*)::DOUBLE AS mean_rarity_rank
FROM toks t JOIN ranked r ON t.term = r.term
GROUP BY t.doc_id
"""


# --- closed-corpus bigram-LM fluency score ------------------------------------


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bigram_lm_score(B.load_table(spark, sf_dir, "documents"))


SQL_BIGRAM_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS t FROM documents
), widx AS (
  SELECT doc_id, t,
         unnest(generate_series(2, len(t))) AS i
  FROM toks WHERE len(t) >= 2
), bg AS (
  SELECT doc_id, t[i-1] AS w1, t[i] AS w2 FROM widx
), cab AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2
), ca AS (
  SELECT w1, COUNT(*) AS c_a FROM bg GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest({TH.TOKENS_SQL.format(text="text")}) AS w
        FROM documents)
), scored AS (
  SELECT bg.doc_id,
         FLOOR((cab.c_ab + 1)::DOUBLE * {float(X.BIGRAM_SCALE)}
               / (ca.c_a + vocab.v)::DOUBLE)::BIGINT AS sp
  FROM bg JOIN cab USING (w1, w2) JOIN ca USING (w1), vocab
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       SUM(sp)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS mean_scaled_p
FROM scored GROUP BY doc_id
"""


# --- lang-ID evaluation + readability + per-source dup rate -------------------


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_id_confusion(B.load_table(spark, sf_dir, "documents"))


def _lang_confusion_sql() -> str:
    scores = _lang_scores_sql()
    best = "greatest(" + ", ".join(scores[lg] for lg in X.LANG_ORDER) + ")"
    lang_case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    for lg in X.LANG_ORDER:
        lang_case += f"WHEN {scores[lg]} = {best} THEN '{lg}' "
    lang_case += "ELSE 'und' END"
    return f"""
WITH pairs AS (
  SELECT lang AS lang_true, {lang_case} AS lang_pred FROM documents
), counts AS (
  SELECT lang_true, lang_pred, COUNT(*) AS n_docs
  FROM pairs GROUP BY 1, 2
), totals AS (
  SELECT lang_true, SUM(n_docs)::BIGINT AS n_total FROM counts GROUP BY 1
)
SELECT c.lang_true, c.lang_pred, c.n_docs,
       c.n_docs::DOUBLE / t.n_total::DOUBLE AS share
FROM counts c JOIN totals t USING (lang_true)
ORDER BY lang_true, lang_pred
"""


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.readability_scores(B.load_table(spark, sf_dir, "documents"))


SQL_READABILITY_SCORES = f"""
SELECT doc_id,
  greatest(1, len({TH.TOKENS_SQL.format(text="text")})) AS n_words,
  greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
  greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
    AS n_syllables,
  ROUND(206.835
    - 1.015 * (greatest(1, len({TH.TOKENS_SQL.format(text="text")}))::DOUBLE
               / greatest(1, len(regexp_extract_all(text, '[.!?]+')))::DOUBLE)
    - 84.6 * (greatest(1, len(regexp_extract_all(lower(text),
                                                 '[aeiouy]+')))::DOUBLE
              / greatest(1, len({TH.TOKENS_SQL.format(text="text")}))::DOUBLE),
    6) AS flesch
FROM documents
"""


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-composition query: MinHash-LSH dedup → per-source duplicate
    rate (which ingestion sources are flooding the corpus with near-dups)."""
    docs = B.load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = D.connected_components(pairs)
    dropped = cc.filter(F.col("id") != F.col("rep")).select(
        F.col("id").alias("doc_id")
    )
    flagged = docs.join(
        dropped.withColumn("is_dup", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            (F.col("n_dups").cast("double") / F.col("n_docs").cast("double"))
            .alias("dup_rate"),
        )
        .orderBy("source")
    )


def _dup_rate_by_source_sql() -> str:
    return (
        _minhash_pairs_ctes(recursive=True)
        + _CC_CTES
        + """
SELECT d.source, COUNT(*) AS n_docs,
       SUM(CASE WHEN d.doc_id IN (SELECT id FROM comp WHERE id <> rep)
                THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       SUM(CASE WHEN d.doc_id IN (SELECT id FROM comp WHERE id <> rep)
                THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS dup_rate
FROM documents d
GROUP BY d.source
ORDER BY d.source
"""
    )


# --- near-dup cluster-size histogram + embedding outliers ----------------------


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of near-dup clusters (how pathological is the
    duplication: many pairs vs few mega-clusters) — the triage view over
    the CC output."""
    docs = B.load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = D.connected_components(pairs)
    sizes = cc.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _dup_cluster_sizes_sql() -> str:
    return (
        _minhash_pairs_ctes(recursive=True)
        + _CC_CTES
        + """
SELECT cluster_size, COUNT(*) AS n_clusters FROM (
  SELECT rep, COUNT(*) AS cluster_size FROM comp GROUP BY rep)
GROUP BY cluster_size
ORDER BY cluster_size
"""
    )


EMB_OUTLIER_K = 5


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the k members FARTHEST (lowest
    cosine) from their own label centroid — the mislabeled-example / OOD
    triage list. Reuses the exact integer-grid centroids and the
    fold-cosine, so the ranking is oracle-reproducible."""
    from cdc_stream_processor_spark.operators.relational import (
        top_k_per_group,
    )

    emb = B.load_table(spark, sf_dir, "embeddings")
    cents = S.embedding_centroids(emb, group_col="label", vec_col="embedding")
    scored = emb.join(
        F.broadcast(cents.withColumnRenamed("centroid", "cv")), "label"
    ).select(
        "label",
        "vec_id",
        F.round(
            S.cosine(S.as_double(F.col("embedding")), F.col("cv")), 6
        ).alias("centroid_sim"),
    )
    return top_k_per_group(
        scored,
        ["label"],
        # asc_nulls_last, not asc: the r10 fold-cosine guard NULLs the sim
        # of a zero-norm vector, Spark's asc() is NULLS FIRST while the
        # DuckDB oracle's default ASC ordering is NULLS LAST — a zero
        # vector would have ranked FIRST here and last in the oracle,
        # silently diverging top-k membership (probed: DuckDB ranks the
        # NULL row 3rd of 3 under ASC).
        [F.col("centroid_sim").asc_nulls_last(), F.col("vec_id").asc()],
        EMB_OUTLIER_K,
        rank_col="rank",
    ).select("label", "vec_id", "centroid_sim", "rank")


# --- typo-pair join (FastSS deletion-neighborhood blocking) -------------------


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.typo_pairs(B.load_table(spark, sf_dir, "documents"))


# The deletion neighborhood is a guaranteed candidate superset for
# Levenshtein ≤ 2, so the oracle states the definition directly: all
# vocabulary pairs within edit distance 2, with corpus frequencies —
# among TYPO-CANDIDATE tokens only (length ≤ TYPO_MAX_TOKEN_LEN, the
# same cap the engine applies; see operators/text.py — one blob token
# otherwise explodes the O(len²) deletion neighborhood).
SQL_TYPO_PAIRS = f"""
WITH uni AS (
  SELECT tok, COUNT(*) AS n
  FROM (
    SELECT unnest({TH.TOKENS_SQL.format(text="text")}) AS tok FROM documents
  ) WHERE length(tok) <= {X.TYPO_MAX_TOKEN_LEN} GROUP BY tok
)
SELECT a.tok AS tok_a, b.tok AS tok_b,
       levenshtein(a.tok, b.tok) AS dist,
       a.n AS n_a, b.n AS n_b
FROM uni a JOIN uni b
  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= {X.TYPO_MAX_DIST}
"""


# --- per-label embedding centroids --------------------------------------------


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registered (gate-facing) form is EXPLODED (label, n_vecs, d, c) rows:
    # the external gate's canonicalizer cannot hash array cells, and doubles
    # survive the value hash only as raw doubles, never re-formatted strings.
    # The operator keeps the array form for downstream composition
    # (centroid_pair_sim, embedding_outliers consume it directly).
    cents = S.embedding_centroids(B.load_table(spark, sf_dir, "embeddings"))
    return cents.select(
        "label", "n_vecs", F.posexplode("centroid").alias("d", "c")
    )


SQL_EMBEDDING_CENTROIDS = f"""
WITH e AS (
  SELECT label,
         g.i AS d,
         trunc(embedding[g.i]::DOUBLE * {S.CENTROID_SCALE})::BIGINT AS xi
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
), pd AS (
  SELECT label, d, SUM(xi) AS s, COUNT(*) AS n FROM e GROUP BY 1, 2
), asm AS (
  SELECT label, MAX(n)::BIGINT AS n_vecs,
         list(s::DOUBLE ORDER BY d) AS sv
  FROM pd GROUP BY label
)
SELECT label, n_vecs,
       list_transform(sv, s -> s / (n_vecs * {S.CENTROID_SCALE})::DOUBLE)
         AS centroid
FROM asm
"""

# gate twin of SQL_EMBEDDING_CENTROIDS in exploded row form (0-based d,
# matching Spark's posexplode position)
SQL_EMBEDDING_CENTROIDS_ROWS = f"""
WITH e AS (
  SELECT label,
         g.i AS d,
         trunc(embedding[g.i]::DOUBLE * {S.CENTROID_SCALE})::BIGINT AS xi
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
), pd AS (
  SELECT label, d, SUM(xi) AS s, COUNT(*) AS n FROM e GROUP BY 1, 2
), asm AS (
  SELECT label, d, s,
         MAX(n) OVER (PARTITION BY label)::BIGINT AS n_vecs
  FROM pd
)
SELECT label, n_vecs, (d - 1)::BIGINT AS d,
       s::DOUBLE / (n_vecs * {S.CENTROID_SCALE})::DOUBLE AS c
FROM asm
"""


def _embedding_outliers_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(v.v, c.centroid), p -> p[1] * p[2])"
    )
    nv = _FOLD_SUM.format(arr="list_transform(v.v, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.centroid, x -> x * x)")
    # + 0.0 normalizes signed zero, as in _centroid_pair_sim_sql: a vector
    # orthogonal to its centroid folds to a tiny negative cosine
    return f"""
WITH cents AS ({SQL_EMBEDDING_CENTROIDS}),
v AS (
  SELECT label, vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), scored AS (
  SELECT v.label, v.vec_id,
         ROUND(({dot}) / (sqrt({nv}) * sqrt({nc})), 6) + 0.0 AS centroid_sim
  FROM v JOIN cents c USING (label)
)
SELECT label, vec_id, centroid_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY centroid_sim ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {EMB_OUTLIER_K}
"""


# --- nearest-centroid assignment ----------------------------------------------


def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.centroid_assign(emb, S.embedding_centroids(emb))


def _centroid_assign_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(v.v, c.centroid), p -> p[1] * p[2])"
    )
    nv = _FOLD_SUM.format(arr="list_transform(v.v, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.centroid, x -> x * x)")
    # + 0.0 normalizes signed zero, as in _centroid_pair_sim_sql
    return f"""
WITH cents AS ({SQL_EMBEDDING_CENTROIDS}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), scored AS (
  SELECT v.vec_id, c.label,
         ROUND(({dot}) / (sqrt({nv}) * sqrt({nc})), 6) + 0.0 AS sim
  FROM v CROSS JOIN cents c
)
SELECT vec_id, label AS assigned_label, sim FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, label ASC) = 1
"""


# --- bigram collocations (lift / PMI-ranked) ----------------------------------


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bigram_lift_topk(B.load_table(spark, sf_dir, "documents"))


SQL_BIGRAM_LIFT = f"""
WITH toks AS (
  SELECT doc_id, {TH.TOKENS_SQL.format(text="text")} AS toks FROM documents
), bg AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS g(i)
), bgc AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w, COUNT(*) AS n_w
  FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY 1
), tot AS (
  SELECT (SELECT SUM(n_w) FROM uni) AS n_tokens,
         (SELECT COUNT(*) FROM bg) AS n_bigrams
)
SELECT c.w1, c.w2, c.n_ab,
       c.n_ab::DOUBLE * t.n_tokens::DOUBLE * t.n_tokens::DOUBLE
         / (t.n_bigrams::DOUBLE * a.n_w::DOUBLE * b.n_w::DOUBLE) AS lift
FROM bgc c
JOIN uni a ON c.w1 = a.w
JOIN uni b ON c.w2 = b.w
CROSS JOIN tot t
WHERE c.n_ab >= {X.BIGRAM_MIN_COUNT}
ORDER BY lift DESC, c.w1, c.w2
LIMIT {X.BIGRAM_TOP_K}
"""


# --- kNN graph + Gram matrix -------------------------------------------------

KNN_K = 5


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide cosine kNN graph (every vector a query) via the
    block-matrix kernel — local per-combo top-k pruning, O(n·B·k) shuffle."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=KNN_K, block_size=512)


def _knn_graph_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])"
    )
    nq = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), scored AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         ROUND({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cosine_sim
  FROM v q, v c
  WHERE q.vec_id != c.vec_id
)
SELECT vec_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {KNN_K}
"""


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed fixed-point Gram matrix: per-partition int64 XᵀX
    partials, one (i,j) partial-agg shuffle of partitions·d² rows."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.embedding_gram(emb)


def _embedding_gram_sql() -> str:
    # dim derived from the data (r11 divergence audit): the former
    # hardcoded EMB_DIM constant emitted a 64x64 upper triangle (2080
    # NULL-padded cells) over a 4-dim corpus, while the engine derives
    # the grid from the vectors — a silent gate breaker if the corpus
    # dim ever changes
    return f"""
WITH d AS (
  SELECT MAX(len(embedding)) - 1 AS hi FROM embeddings
), q AS (
  SELECT list_transform(embedding,
           x -> CAST(ROUND(x::DOUBLE * {S.GRAM_SCALE}, 0) AS BIGINT)) AS qv
  FROM embeddings
), cells AS (
  SELECT i.i AS i, j.j AS j, qv[i.i + 1] * qv[j.j + 1] AS p
  FROM q,
       (SELECT unnest(generate_series(0, (SELECT hi FROM d))) AS i) i,
       (SELECT unnest(generate_series(0, (SELECT hi FROM d))) AS j) j
  WHERE i.i <= j.j
)
SELECT i::INTEGER AS i, j::INTEGER AS j, SUM(p)::BIGINT AS gram_q
FROM cells GROUP BY i, j
"""


# --- PageRank over the kNN graph ---------------------------------------------

PR_ITERS = 3


def q_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact kNN neighbor graph — iterative fixed-point
    integer arithmetic (operators.graph), so 3 rounds of distributed power
    iteration are bit-replayable in the DuckDB oracle."""
    from cdc_stream_processor_spark.operators.graph import pagerank

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank(edges, n_iter=PR_ITERS).select("node", "pr_q", "pagerank")


def _knn_pagerank_sql() -> str:
    from cdc_stream_processor_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    # CTE portion of the kNN SQL only (strip its final SELECT — the edge
    # list restates the rank cut inside the e CTE below)
    knn_full = _knn_graph_sql().strip().removeprefix("WITH")
    knn = knn_full[: knn_full.rindex("SELECT vec_id, neighbor_id, cosine_sim, rank")]
    tele = f"({(PR_DAMP_DEN - PR_DAMP_NUM)} * {PR_SCALE}) // ({PR_DAMP_DEN} * nn.n)"
    its = []
    prev = "pr0"
    for t in range(1, PR_ITERS + 1):
        its.append(f"""it{t} AS (
  SELECT no.node,
         CAST({tele} + (COALESCE(s.g, 0) * {PR_DAMP_NUM}) // {PR_DAMP_DEN}
              AS BIGINT) AS pr_q
  FROM nodes no CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr_q // od.outdeg) AS g
    FROM e JOIN {prev} p ON e.src = p.node
    JOIN od ON od.src = e.src
    GROUP BY e.dst
  ) s USING (node)
)""")
        prev = f"it{t}"
    iter_sql = ",\n".join(its)
    return f"""
WITH {knn}
, e AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM (
    SELECT vec_id, neighbor_id, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), od AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), pr0 AS (
  SELECT no.node, CAST({PR_SCALE} // nn.n AS BIGINT) AS pr_q
  FROM nodes no CROSS JOIN nn
),
{iter_sql}
SELECT node, pr_q,
       ROUND(pr_q::DOUBLE / {float(PR_SCALE)!r}, 6) AS pagerank
FROM {prev}
"""


# --- hard-negative mining (contrastive training negatives) --------------------


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector, the TOPK nearest neighbors with a DIFFERENT
    label (operators.similarity.hard_negative_topk)."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(emb, k=TOPK, query_stride=QUERY_STRIDE)


def _hard_negatives_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])"
    )
    nq = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
), q AS (
  SELECT * FROM v WHERE vec_id % {QUERY_STRIDE} = 0
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS neg_label,
         ROUND({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cosine_sim
  FROM q, v c
  WHERE q.label != c.label
)
SELECT query_id, q_label, neighbor_id, neg_label, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


# --- multimodal resize plan ---------------------------------------------------

RESIZE_W = 224
RESIZE_H = 224


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox-fit resize plan for image media (pure Catalyst columns —
    see operators.multimodal.resize_images)."""
    media = M.media_from_documents(B.load_table(spark, sf_dir, "documents"))
    return M.resize_images(media, RESIZE_W, RESIZE_H)


def _resize_sql() -> str:
    b0 = _HEXB.format(p1=1, p2=2)
    b1 = _HEXB.format(p1=3, p2=4)
    return f"""
WITH img AS (
  SELECT doc_id AS media_id, text, sha256(text) AS h
  FROM documents WHERE doc_id % 4 NOT IN (0, 1)
), dims AS (
  SELECT media_id, text,
         (64 + {b0} % 192)::BIGINT AS src_w,
         (64 + {b1} % 192)::BIGINT AS src_h
  FROM img
), sc AS (
  SELECT *, LEAST({float(RESIZE_W)} / src_w::DOUBLE,
                  {float(RESIZE_H)} / src_h::DOUBLE) AS scale
  FROM dims
)
SELECT media_id, src_w, src_h, scale,
       FLOOR(src_w::DOUBLE * scale)::BIGINT AS out_w,
       FLOOR(src_h::DOUBLE * scale)::BIGINT AS out_h,
       sha256(text || ':{RESIZE_W}x{RESIZE_H}') AS resized_sha
FROM sc
"""


# --- exact greedy k-center coreset selection ----------------------------------

KCENTER_K = 5


def q_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez greedy k-center exemplars over the embeddings
    (operators.similarity.kcenter_centers)."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.kcenter_centers(emb, k=KCENTER_K)


def _kcenter_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(p.e, q.e), x -> x[1] * x[2])"
    )
    np_ = _FOLD_SUM.format(arr="list_transform(p.e, x -> x * x)")
    nq_ = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    cos = f"ROUND({dot} / (sqrt({np_}) * sqrt({nq_})), 6)"
    ctes = [
        "v AS (\n  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)"
        " AS e FROM embeddings\n)",
        "c0 AS (SELECT MIN(vec_id) AS id FROM v)",
    ]
    prev_s = None
    for r in range(1, KCENTER_K):
        exclude = " UNION ALL ".join(
            f"SELECT id FROM c{i}" for i in range(r)
        )
        if prev_s is None:
            ctes.append(
                f"""s{r} AS (
  SELECT p.vec_id, p.e, {cos} AS maxc
  FROM v p JOIN v q ON q.vec_id = (SELECT id FROM c0)
)"""
            )
        else:
            ctes.append(
                f"""s{r} AS (
  SELECT p.vec_id, p.e, GREATEST(p.maxc, {cos}) AS maxc
  FROM {prev_s} p JOIN v q ON q.vec_id = (SELECT id FROM c{r - 1})
)"""
            )
        ctes.append(
            f"""c{r} AS (
  SELECT vec_id AS id, maxc FROM s{r}
  WHERE vec_id NOT IN ({exclude})
  ORDER BY maxc ASC, vec_id ASC LIMIT 1
)"""
        )
        prev_s = f"s{r}"
    selects = [
        "SELECT 0::BIGINT AS rank, (SELECT id FROM c0) AS vec_id,"
        " NULL::DOUBLE AS sel_maxcos"
    ] + [
        f"SELECT {r}::BIGINT, id, maxc FROM c{r}"
        for r in range(1, KCENTER_K)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# --- label-propagation communities over the kNN graph ------------------------

LPA_ROUNDS = 3


def q_knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-tie label propagation over the symmetrized exact
    kNN graph (operators.graph.label_propagation) — deterministic, so the
    DuckDB oracle unrolls the same rounds."""
    from cdc_stream_processor_spark.operators.graph import label_propagation

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return label_propagation(edges, n_rounds=LPA_ROUNDS)


def _knn_communities_sql() -> str:
    knn_full = _knn_graph_sql().strip().removeprefix("WITH")
    knn = knn_full[: knn_full.rindex("SELECT vec_id, neighbor_id, cosine_sim, rank")]
    rounds = []
    prev = "l0"
    for t in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""c{t} AS (
  SELECT node, label, COUNT(*) AS c FROM (
    SELECT e.src AS node, l.label FROM e JOIN {prev} l ON e.dst = l.node
    UNION ALL SELECT node, label FROM {prev}
  ) GROUP BY node, label
), m{t} AS (
  SELECT node, MAX(c) AS mc FROM c{t} GROUP BY node
), l{t} AS (
  SELECT c.node, MIN(c.label) AS label
  FROM c{t} c JOIN m{t} m ON c.node = m.node AND c.c = m.mc
  GROUP BY c.node
)""")
        prev = f"l{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH {knn}
, knn_e AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM (
    SELECT vec_id, neighbor_id, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
), e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM knn_e UNION ALL SELECT dst, src FROM knn_e
  )
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM e
),
{rounds_sql}
SELECT node, label AS community FROM {prev}
"""


# --- duplicated-substring spans ----------------------------------------------


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.dup_spans(B.load_table(spark, sf_dir, "documents"))


def _dup_spans_sql() -> str:
    L = X.DUP_SPAN_LEN
    fold = (
        f"list_reduce(list_prepend(0::BIGINT, hs[p : p + {L - 1}]), "
        f"(acc, h) -> (acc * {TH.P_FACTOR} + h) % {TH.P_MOD})"
    )
    return (
        DOCS_CTE
        + f"""
, wpos AS (
  SELECT doc_id, hs,
         unnest(generate_series(1, GREATEST(len(hs) - {L - 1}, 0))) AS p
  FROM tokh
), wins AS (
  SELECT doc_id, {fold} AS w FROM wpos
), shared AS (
  SELECT w FROM wins GROUP BY w HAVING MIN(doc_id) != MAX(doc_id)
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup FROM wins
  WHERE w IN (SELECT w FROM shared) GROUP BY doc_id
), base AS (
  SELECT d.doc_id,
         GREATEST(len(COALESCE(t.hs, [])) - {L - 1}, 0)::INTEGER AS n_windows
  FROM documents d LEFT JOIN tokh t USING (doc_id)
)
SELECT b.doc_id, b.n_windows,
       COALESCE(p.n_dup, 0)::BIGINT AS n_dup_windows,
       ROUND(COALESCE(p.n_dup, 0)::DOUBLE
             / GREATEST(b.n_windows, 1)::DOUBLE, 6) AS dup_span_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""
    )


# --- batch model inference (stub encoder) ------------------------------------


def q_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow batch-inference harness over documents with the deterministic
    stub encoder (operators.inference) — the model-stage plumbing; the
    oracle replays the stub's integer arithmetic."""
    from cdc_stream_processor_spark.operators import inference as I

    docs = B.load_table(spark, sf_dir, "documents")
    out = I.batch_inference(docs)
    # gate-facing form is EXPLODED (doc_id, j, e, sq_norm) rows — see
    # q_embedding_centroids for why arrays can't reach the gate
    return out.select(
        "doc_id",
        F.posexplode("embedding").alias("j", "e"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, x: a + x * x
            ),
            6,
        ).alias("sq_norm"),
    )


def _batch_inference_sql() -> str:
    from cdc_stream_processor_spark.operators import inference as I

    comp = (
        f"((h * {I.EMBED_A} + j * {I.EMBED_B} + j * j) % {TH.P_MOD})"
        f"::DOUBLE / {float(TH.P_MOD)!r} - 0.5"
    )
    return f"""
WITH hs AS (
  SELECT doc_id, {TH.char_polyhash_sql("COALESCE(text, '')")} AS h FROM documents
), emb AS (
  SELECT doc_id,
         list_transform(generate_series(0, {I.EMBED_DIM - 1}),
                        j -> {comp}) AS embedding
  FROM hs
)
SELECT doc_id, (g.i - 1)::BIGINT AS j, embedding[g.i] AS e,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(embedding, x -> x * x)),
             (a, x) -> a + x), 6) AS sq_norm
FROM emb, unnest(generate_series(1, len(embedding))) AS g(i)
"""


# --- centroid drift (pairwise class-centroid similarity) ---------------------


def q_centroid_pair_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between class centroids — the embedding-drift /
    class-separability monitor. Centroids are n_labels rows (bounded), so
    the pair join is a broadcast self-join at aggregate scale; the fold
    cosine keeps oracle bit-parity."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    cents = S.embedding_centroids(emb)
    a = cents.select(
        F.col("label").alias("label_a"), S.as_double(F.col("centroid")).alias("ca")
    )
    b = cents.select(
        F.col("label").alias("label_b"), S.as_double(F.col("centroid")).alias("cb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(S.cosine(F.col("ca"), F.col("cb")), 6).alias("cosine_sim"),
        )
    )


def _centroid_pair_sim_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(a.centroid, b.centroid), p -> p[1] * p[2])"
    )
    na = _FOLD_SUM.format(arr="list_transform(a.centroid, x -> x * x)")
    nb = _FOLD_SUM.format(arr="list_transform(b.centroid, x -> x * x)")
    # +0.0 normalizes IEEE signed zero, as SQL_CDC_PARSE does: centroids
    # whose exact dot product is 0 fold to a tiny negative cosine, which
    # DuckDB's ROUND keeps as -0.0 and Spark's round (Java BigDecimal, no
    # signed zero) returns as 0.0
    return f"""
WITH cents AS ({SQL_EMBEDDING_CENTROIDS})
SELECT a.label AS label_a, b.label AS label_b,
       ROUND(({dot}) / (sqrt({na}) * sqrt({nb})), 6) + 0.0 AS cosine_sim
FROM cents a JOIN cents b ON a.label < b.label
"""


# --- chi-squared discriminative terms ----------------------------------------


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.chi2_terms_per_lang(B.load_table(spark, sf_dir, "documents"))


def _chi2_terms_sql() -> str:
    toks = TH.TOKENS_SQL.format(text="text")
    q = "(da * dd - db * dc)"
    den = "(da + db) * (dc + dd) * (da + dc) * (db + dd)"
    return f"""
WITH terms AS (
  SELECT lang, unnest(list_distinct({toks})) AS term FROM documents
), tl AS (
  SELECT term, lang, COUNT(*) AS a FROM terms GROUP BY 1, 2
), lt AS (
  SELECT lang, COUNT(*) AS nl FROM documents GROUP BY lang
), tt AS (
  SELECT term, COUNT(*) AS nt FROM terms GROUP BY term
), nn AS (
  SELECT COUNT(*) AS nd FROM documents
), cells AS (
  SELECT tl.lang, tl.term,
         a::DOUBLE AS da, (nl - a)::DOUBLE AS db,
         (nt - a)::DOUBLE AS dc, (nd - nl - (nt - a))::DOUBLE AS dd
  FROM tl JOIN lt USING (lang) JOIN tt USING (term) CROSS JOIN nn
), scored AS (
  SELECT lang, term,
         ROUND(nd_d * {q} * {q} / ({den}), 6) AS chi2
  FROM (SELECT *, (SELECT nd FROM nn)::DOUBLE AS nd_d FROM cells)
  WHERE {den} > 0
)
SELECT lang, term, chi2, term_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY chi2 DESC, term ASC) AS term_rank
  FROM scored
) WHERE term_rank <= {X.CHI2_TOP_K}
"""


# --- contrastive training triplets -------------------------------------------

TRIPLET_POS_T = 0.5
TRIPLET_NEG_T = 0.2


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.contrastive_triplets(
        B.load_table(spark, sf_dir, "documents"),
        pos_threshold=TRIPLET_POS_T,
        neg_threshold=TRIPLET_NEG_T,
    )


def _contrastive_triplets_sql() -> str:
    # reuse the MinHash CTE chain up to `scored` (pre-threshold candidates)
    ctes = _minhash_pairs_ctes()
    ctes = ctes[: ctes.rindex(", pairs AS (")]
    return (
        ctes
        + f"""
, both_dir AS (
  SELECT doc_a AS anchor, doc_b AS other, jaccard FROM scored
  UNION ALL
  SELECT doc_b AS anchor, doc_a AS other, jaccard FROM scored
), pos AS (
  SELECT anchor, other AS positive_id, jaccard AS positive_jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
              ORDER BY jaccard DESC, other ASC) AS rn
    FROM both_dir WHERE jaccard >= {TRIPLET_POS_T}
  ) WHERE rn = 1
), neg AS (
  SELECT anchor, other AS negative_id, jaccard AS negative_jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
              ORDER BY jaccard DESC, other ASC) AS rn
    FROM both_dir WHERE jaccard < {TRIPLET_NEG_T}
  ) WHERE rn = 1
)
SELECT anchor, positive_id, positive_jaccard, negative_id, negative_jaccard
FROM pos JOIN neg USING (anchor)
"""
    )


# --- cluster-stratified diversity sampling -----------------------------------


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.diversity_sample(emb, S.embedding_centroids(emb))


def _diversity_sample_sql() -> str:
    from cdc_stream_processor_spark.operators.corpus import (
        SPLIT_A,
        SPLIT_B,
        SPLIT_P,
    )

    assign = _centroid_assign_sql().strip()
    u = f"(((vec_id * {SPLIT_A} + {SPLIT_B}) % {SPLIT_P})::DOUBLE / {SPLIT_P}::DOUBLE)"
    return f"""
WITH assigned AS ({assign})
SELECT vec_id, assigned_label, sim, draw_rank FROM (
  SELECT vec_id, assigned_label, sim,
         ROW_NUMBER() OVER (PARTITION BY assigned_label
                            ORDER BY {u} ASC, vec_id ASC) AS draw_rank
  FROM assigned
) WHERE draw_rank <= {S.DIVERSITY_PER_CLUSTER}
"""


# --- SemDeDup: cluster-scoped semantic dedup ----------------------------------


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (SemDeDup, Abbas et al. '23): pairs
    are scored only within nearest-centroid clusters, so the exact kernel
    runs at O(Σ n_c²) instead of O(n²)."""
    return S.semdedup(B.load_table(spark, sf_dir, "embeddings"))


def _semdedup_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])"
    )
    nx = _FOLD_SUM.format(arr="list_transform(x.v, t -> t * t)")
    ny = _FOLD_SUM.format(arr="list_transform(y.v, t -> t * t)")
    assign = _centroid_assign_sql().strip()
    # pair CTE keeps dedup_clusters' (doc_a, doc_b) naming so the
    # transitive-closure CC CTEs (_CC_CTES) drop in unchanged
    return f"""
WITH RECURSIVE assigned AS ({assign}),
v AS (
  SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS v
  FROM embeddings
), cv AS (
  SELECT a.vec_id, a.assigned_label AS cluster, v.v
  FROM assigned a JOIN v ON a.vec_id = v.vec_id
), pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT x.vec_id AS doc_a, y.vec_id AS doc_b,
           ROUND(({dot}) / (sqrt({nx}) * sqrt({ny})), 6) AS s
    FROM cv x JOIN cv y
      ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  ) WHERE s >= {S.SEMDEDUP_TAU}
){_CC_CTES}
SELECT c.vec_id, c.cluster,
       COALESCE(comp.rep, c.vec_id) AS rep_id,
       COALESCE(comp.rep, c.vec_id) = c.vec_id AS kept
FROM cv c LEFT JOIN comp ON comp.id = c.vec_id
"""


# --- directional n-gram containment --------------------------------------------


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.containment_pairs(
        B.load_table(spark, sf_dir, "documents"), threshold=D.CONTAINMENT_TAU
    )


def _containment_pairs_sql() -> str:
    return (
        DOCS_CTE
        + f"""
, cpair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.hs, b.hs)) AS shared,
         len(a.hs) AS n_a
  FROM shh a JOIN shh b ON a.doc_id <> b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(shared::DOUBLE / n_a::DOUBLE, 6) AS containment
FROM cpair
WHERE shared > 0
  AND ROUND(shared::DOUBLE / n_a::DOUBLE, 6) >= {D.CONTAINMENT_TAU}
"""
    )


# --- triangle counts over the kNN graph ----------------------------------------


def q_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the exact kNN neighbor graph — the
    clustering-coefficient numerator (wedge join + closing-edge join)."""
    from cdc_stream_processor_spark.operators.graph import triangle_counts

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return triangle_counts(edges)


def _knn_triangles_sql() -> str:
    knn_full = _knn_graph_sql().strip().removeprefix("WITH")
    knn = knn_full[
        : knn_full.rindex("SELECT vec_id, neighbor_id, cosine_sim, rank")
    ]
    return f"""
WITH {knn}
, e0 AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM (
    SELECT vec_id, neighbor_id, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
), ce AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e0 WHERE src <> dst
), w AS (
  SELECT x.lo AS a, x.hi AS b, y.hi AS c
  FROM ce x JOIN ce y ON x.lo = y.lo AND x.hi < y.hi
), tri AS (
  SELECT a, b, c FROM w JOIN ce ON ce.lo = w.b AND ce.hi = w.c
)
SELECT vertex, COUNT(*)::BIGINT AS n_triangles
FROM (
  SELECT a AS vertex FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY vertex
"""


# --- Johnson–Lindenstrauss random projection -----------------------------------


def q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gate-facing form is WIDE (vec_id, p0..p15) — arrays can't reach the
    # gate (see q_embedding_centroids), and posexplode of a per-row
    # lambda-transform array RE-EVALUATES the projection per emitted
    # position (measured 6.5 s vs 1.0 s at sf0.1); element_at instead
    # simplifies to one lambda evaluation per column
    # (SimplifyExtractValueOps), keeping the plan map-only at array cost.
    return S.rp_project(B.load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        *[
            F.element_at("proj", j + 1).alias(f"p{j}")
            for j in range(S.RP_DIMS)
        ],
    )


def _rp_project_sql() -> str:
    def fold(j: int) -> str:
        sign = (
            f"(CASE WHEN (((i - 1) * {S.RP_DIMS} + {j}) * {S.RP_A} "
            f"+ {S.RP_B}) % {S.RP_P} % 2 = 1 THEN 1.0 ELSE -1.0 END)"
        )
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(generate_series(1, len(v)), i -> v[i] * {sign})), "
            "(acc, x) -> acc + x)"
        )

    cols = ",\n       ".join(
        f"{fold(j)} / {float(S.RP_DIMS) ** 0.5} AS p{j}"
        for j in range(S.RP_DIMS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS v
  FROM embeddings
)
SELECT vec_id, {cols}
FROM e
"""


# --- distributed Lloyd k-means -------------------------------------------------


def q_kmeans_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.kmeans_labels(B.load_table(spark, sf_dir, "embeddings"))


def _kmeans_sql(k: int = S.KMEANS_K, iters: int = S.KMEANS_ITERS) -> str:
    """Replay every Lloyd round as chained CTEs: the same seeded init, the
    same sequential (x-c)² fold, the same integer-grid mean rebuild."""
    scale = S.CENTROID_SCALE
    folddist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip(v.v, c.cv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )

    def assign(cn: str, an: str) -> str:
        return f""", {an} AS (
  SELECT vec_id, cluster, d FROM (
    SELECT v.vec_id, c.cluster, {folddist} AS d
    FROM v CROSS JOIN {cn} c)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY d ASC, cluster ASC) = 1
)"""

    def rebuild(an: str, cn: str) -> str:
        return f""", {cn} AS (
  SELECT cluster,
         list(s::DOUBLE / (n * {scale})::DOUBLE ORDER BY dim) AS cv
  FROM (
    SELECT a.cluster, g.i AS dim,
           SUM(trunc(v.v[g.i] * {scale})::BIGINT) AS s,
           COUNT(*)::BIGINT AS n
    FROM {an} a JOIN v ON a.vec_id = v.vec_id,
         unnest(generate_series(1, len(v.v))) AS g(i)
    GROUP BY 1, 2)
  GROUP BY cluster
)"""

    sql = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS v
  FROM embeddings
), c0 AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id) - 1)::BIGINT AS cluster,
         v AS cv
  FROM v ORDER BY vec_id LIMIT {k}
)"""
    ]
    for r in range(1, iters + 1):
        sql.append(assign(f"c{r - 1}", f"a{r}"))
        if r < iters:
            sql.append(rebuild(f"a{r}", f"c{r}"))
    sql.append(
        f"\nSELECT vec_id, cluster, ROUND(d, 6) AS sq_dist FROM a{iters}"
    )
    return "".join(sql)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # codes serialized to a '-'-joined string: the external gate's
    # canonicalizer cannot hash array cells (pandas factorize on lists);
    # the operator itself keeps the array form for downstream use.
    return S.pq_codes(B.load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_err",
    )


def _pq_sql(
    m: int = S.PQ_M, ksub: int = S.PQ_KSUB, iters: int = S.PQ_ITERS
) -> str:
    """Replay product quantization round-for-round: the kmeans_labels CTE
    chain keyed by subspace (see `_kmeans_sql` — identical arithmetic)."""
    scale = S.CENTROID_SCALE
    folddist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip(v.v, c.cv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )

    def assign(cn: str, an: str) -> str:
        return f""", {an} AS (
  SELECT vec_id, sub, cluster, d FROM (
    SELECT v.vec_id, v.sub, c.cluster, {folddist} AS d
    FROM v JOIN {cn} c USING (sub))
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                             ORDER BY d ASC, cluster ASC) = 1
)"""

    def rebuild(an: str, cn: str) -> str:
        return f""", {cn} AS (
  SELECT sub, cluster,
         list(s::DOUBLE / (n * {scale})::DOUBLE ORDER BY dim) AS cv
  FROM (
    SELECT a.sub, a.cluster, g.i AS dim,
           SUM(trunc(v.v[g.i] * {scale})::BIGINT) AS s,
           COUNT(*)::BIGINT AS n
    FROM {an} a JOIN v ON a.vec_id = v.vec_id AND a.sub = v.sub,
         unnest(generate_series(1, len(v.v))) AS g(i)
    GROUP BY 1, 2, 3)
  GROUP BY sub, cluster
)"""

    sql = [
        f"""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS fv
  FROM embeddings
), v AS (
  SELECT vec_id, s.sub,
         list_slice(fv, s.sub * (len(fv) // {m}) + 1,
                    (s.sub + 1) * (len(fv) // {m})) AS v
  FROM v0, (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
), c0 AS (
  SELECT sub, (rn - 1)::BIGINT AS cluster, v AS cv FROM (
    SELECT sub, v,
           ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
    FROM v)
  WHERE rn <= {ksub}
)"""
    ]
    for r in range(1, iters + 1):
        sql.append(assign(f"c{r - 1}", f"a{r}"))
        if r < iters:
            sql.append(rebuild(f"a{r}", f"c{r}"))
    sql.append(
        f"""
SELECT vec_id,
       array_to_string(list(cluster ORDER BY sub), '-') AS codes,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(d ORDER BY sub)),
                         (acc, x) -> acc + x), 6) AS recon_err
FROM a{iters}
GROUP BY vec_id"""
    )
    return "".join(sql)


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return S.pq_adc_topk(queries, emb)


def _pq_adc_sql(
    m: int = S.PQ_M,
    ksub: int = S.PQ_KSUB,
    iters: int = S.PQ_ITERS,
    k: int = S.PQ_ADC_K,
) -> str:
    """ADC search replay: the PQ training CTE chain (identical to
    `_pq_sql`), then the per-query LUT and the subspace-ordered distance
    fold."""
    train = _pq_sql(m, ksub, iters)
    # strip _pq_sql's final SELECT; keep its WITH chain
    head = train[: train.rindex("\nSELECT vec_id,\n       array_to_string(")]
    folddist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip(q.v, c.cv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )
    return (
        head
        + f""", qs AS (
  SELECT vec_id AS query_id, sub, v FROM v
  WHERE vec_id % {QUERY_STRIDE} = 0
), lut AS (
  SELECT q.query_id, q.sub, c.cluster, {folddist} AS ld
  FROM qs q JOIN c{iters - 1} c USING (sub)
), scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         ROUND(list_reduce(
           list_prepend(0.0::DOUBLE, list(l.ld ORDER BY l.sub)),
           (acc, x) -> acc + x), 6) AS approx_sq_dist
  FROM a{iters} a
  JOIN lut l ON a.sub = l.sub AND a.cluster = l.cluster
  WHERE l.query_id != a.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_sq_dist,
       rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY approx_sq_dist ASC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return S.mmr_rerank(queries, emb)


def _mmr_sql(
    k: int = S.MMR_K, pool: int = S.MMR_POOL, lam: float = S.MMR_LAMBDA
) -> str:
    """Unrolled greedy MMR replay: candidates = the cosine_topk CTE at
    k=pool, pairwise candidate cosines, then k chained selection rounds
    (argmax of λ·rel − (1−λ)·max-sim-to-selected, ties to min id)."""
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])"
    )
    nq = _FOLD_SUM.format(arr="list_transform(q.e, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.e, x -> x * x)")
    pdot = _FOLD_SUM.format(
        arr="list_transform(list_zip(x.e, y.e), p -> p[1] * p[2])"
    )
    nx = _FOLD_SUM.format(arr="list_transform(x.e, x -> x * x)")
    ny = _FOLD_SUM.format(arr="list_transform(y.e, x -> x * x)")
    parts = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
), q AS (
  SELECT * FROM v WHERE vec_id % {QUERY_STRIDE} = 0
), cand AS (
  SELECT query_id, neighbor_id, cosine_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cosine_sim
      FROM q, v c WHERE q.vec_id != c.vec_id))
  WHERE rank <= {pool}
), pair AS (
  SELECT ca.query_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
         ROUND({pdot} / (sqrt({nx}) * sqrt({ny})), 6) AS ps
  FROM cand ca
  JOIN cand cb ON ca.query_id = cb.query_id
              AND ca.neighbor_id != cb.neighbor_id
  JOIN v x ON x.vec_id = ca.neighbor_id
  JOIN v y ON y.vec_id = cb.neighbor_id
), sel1 AS (
  SELECT query_id, neighbor_id AS sel, 1 AS mmr_rank,
         cosine_sim AS mmr_score
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn FROM cand)
  WHERE rn = 1
)"""
    ]
    for r in range(2, k + 1):
        prev = "sel1" if r == 2 else f"acc{r - 2}"
        parts.append(
            f""", acc{r - 1} AS (
  SELECT * FROM {prev}"""
            + (f" UNION ALL SELECT * FROM pick{r - 1}" if r > 2 else "")
            + f"""
), pick{r} AS (
  SELECT query_id, neighbor_id AS sel, {r} AS mmr_rank,
         score AS mmr_score FROM (
    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.score DESC, s.neighbor_id ASC) AS rn
    FROM (
      SELECT c.query_id, c.neighbor_id,
             {lam!r} * c.cosine_sim - {1.0 - lam!r} * MAX(p.ps) AS score
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a = c.neighbor_id
      JOIN acc{r - 1} s ON s.query_id = p.query_id AND s.sel = p.b
      WHERE NOT EXISTS (SELECT 1 FROM acc{r - 1} z
                        WHERE z.query_id = c.query_id
                          AND z.sel = c.neighbor_id)
      GROUP BY c.query_id, c.neighbor_id, c.cosine_sim) s)
  WHERE rn = 1
)"""
        )
    union = " UNION ALL ".join(
        ["SELECT * FROM sel1"]
        + [f"SELECT * FROM pick{r}" for r in range(2, k + 1)]
    )
    parts.append(
        f"""
SELECT query_id, sel AS neighbor_id, mmr_rank, mmr_score
FROM ({union})
ORDER BY query_id, mmr_rank
"""
    )
    return "".join(parts)


# --- JSONL serde round-trip with DLQ routing ----------------------------------

DLQ_MOD = 37  # doc_id % 37 == 0 lines are mangled into malformed JSON


def q_jsonl_dlq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end JSONL ingest-with-quarantine audit over the serde the
    file loaders use (sources.files: PERMISSIVE + _corrupt_record): every
    document is serialized to a JSON line, a deterministic subset
    (doc_id % DLQ_MOD == 0) is mangled into malformed JSON, and the
    parse routes bad lines to the quarantine column instead of failing.
    Returns the per-source ingest report (clean count, DLQ count, and
    the clean payload's n_chars sum proving lossless round-trip).  The
    oracle knows the corrupt set by construction, so the DLQ routing
    itself is what's verified.

    100 TB: pure map (serialize + parse + classify) feeding one
    aggregate-scale groupBy — no joins, one shuffle with map-side
    partials."""
    docs = B.load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "source",
        F.when(
            F.col("doc_id") % DLQ_MOD == 0,
            F.concat(F.lit('{"broken'), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.to_json(F.struct("doc_id", "text", "lang", "n_chars"))
        )
        .alias("line"),
    )
    parsed = lines.select(
        "source",
        F.from_json(
            "line",
            FS._with_corrupt("doc_id long, text string, lang string, n_chars long"),
            FS.PERMISSIVE_OPTIONS,
        ).alias("r"),
    )
    is_bad = F.col(f"r.{FS.CORRUPT_COL}").isNotNull()
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.when(~is_bad, 1)).alias("n_clean"),
            F.count(F.when(is_bad, 1)).alias("n_dlq"),
            F.coalesce(
                F.sum(F.when(~is_bad, F.col("r.n_chars"))), F.lit(0)
            ).alias("clean_chars"),
        )
        .orderBy("source")
    )


SQL_JSONL_DLQ_INGEST = f"""
SELECT source,
       count(*) FILTER (WHERE doc_id % {DLQ_MOD} <> 0)::BIGINT AS n_clean,
       count(*) FILTER (WHERE doc_id % {DLQ_MOD} = 0)::BIGINT AS n_dlq,
       COALESCE(sum(n_chars) FILTER (WHERE doc_id % {DLQ_MOD} <> 0), 0)::BIGINT
         AS clean_chars
FROM documents GROUP BY source ORDER BY source
"""


QUERIES: dict[str, tuple[QueryFn, str]] = {
    "jsonl_dlq_ingest": (q_jsonl_dlq_ingest, SQL_JSONL_DLQ_INGEST),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "pq_codes": (q_pq_codes, _pq_sql()),
    "pq_adc_topk": (q_pq_adc_topk, _pq_adc_sql()),
    "mmr_rerank": (q_mmr_rerank, _mmr_sql()),
    "incremental_dedup": (q_incremental_dedup, _incremental_dedup_sql()),
    "bigram_lift_topk": (q_bigram_lift, SQL_BIGRAM_LIFT),
    "embedding_centroids": (q_embedding_centroids, SQL_EMBEDDING_CENTROIDS_ROWS),
    "centroid_assign": (q_centroid_assign, _centroid_assign_sql()),
    "typo_pairs": (q_typo_pairs, SQL_TYPO_PAIRS),
    "doc_rarity": (q_doc_rarity, SQL_DOC_RARITY),
    "bigram_lm_score": (q_bigram_lm_score, SQL_BIGRAM_LM_SCORE),
    "lang_id_confusion": (q_lang_id_confusion, _lang_confusion_sql()),
    "readability_scores": (q_readability_scores, SQL_READABILITY_SCORES),
    "dup_rate_by_source": (q_dup_rate_by_source, _dup_rate_by_source_sql()),
    "dup_cluster_sizes": (q_dup_cluster_sizes, _dup_cluster_sizes_sql()),
    "embedding_outliers": (q_embedding_outliers, _embedding_outliers_sql()),
    "minhash_lsh_pairs": (q_minhash_pairs, _minhash_sql()),
    "dedup_clusters": (q_dedup_clusters, _dedup_clusters_sql()),
    "minhash_dedup_kept": (q_minhash_dedup_kept, _minhash_dedup_kept_sql()),
    "simhash_fingerprints": (q_simhash_fingerprints, _simhash_fp_sql()),
    "simhash_pairs": (q_simhash_pairs, _simhash_pairs_sql()),
    "ngram_jaccard_pairs": (q_ngram_jaccard, NGRAM_JACCARD_SQL),
    "cosine_topk": (q_cosine_topk, _cosine_topk_sql()),
    "lsh_ann_topk": (q_lsh_ann_topk, _lsh_ann_sql()),
    "ivf_ann_topk": (q_ivf_ann_topk, _ivf_ann_sql()),
    "embedding_near_dup_pairs": (q_embedding_near_dup_pairs, _near_dup_pairs_sql()),
    "embedding_near_dup": (q_embedding_near_dup, _near_dup_keep_sql()),
    "multimodal_image_features": (q_multimodal_image_features, _image_features_sql()),
    "multimodal_resize": (q_multimodal_resize, _resize_sql()),
    "multimodal_audio_features": (q_multimodal_audio_features, _audio_features_sql()),
    "multimodal_frame_sample": (q_multimodal_frame_sample, _frame_sample_sql()),
    "text_profile": (q_text_profile, _text_profile_sql()),
    "doc_repetition": (q_doc_repetition, _doc_repetition_sql()),
    "pii_scan": (q_pii_scan, _pii_scan_sql()),
    "doc_sentiment": (q_doc_sentiment, _doc_sentiment_sql()),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "knn_graph": (q_knn_graph, _knn_graph_sql()),
    "embedding_gram": (q_embedding_gram, _embedding_gram_sql()),
    "knn_pagerank": (q_knn_pagerank, _knn_pagerank_sql()),
    "knn_communities": (q_knn_communities, _knn_communities_sql()),
    "hard_negatives": (q_hard_negatives, _hard_negatives_sql()),
    "kcenter_sample": (q_kcenter_sample, _kcenter_sql()),
    "dup_spans": (q_dup_spans, _dup_spans_sql()),
    "batch_inference_embed": (q_batch_inference, _batch_inference_sql()),
    "centroid_pair_sim": (q_centroid_pair_sim, _centroid_pair_sim_sql()),
    "chi2_terms": (q_chi2_terms, _chi2_terms_sql()),
    "contrastive_triplets": (q_contrastive_triplets, _contrastive_triplets_sql()),
    "diversity_sample": (q_diversity_sample, _diversity_sample_sql()),
    "semdedup": (q_semdedup, _semdedup_sql()),
    "kmeans_labels": (q_kmeans_labels, _kmeans_sql()),
    "containment_pairs": (q_containment_pairs, _containment_pairs_sql()),
    "rp_project": (q_rp_project, _rp_project_sql()),
    "knn_triangles": (q_knn_triangles, _knn_triangles_sql()),
}
