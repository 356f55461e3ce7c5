"""Driver-contract queries for the evaluation & audit family (round-7
session 4): AMS F2 sketch, clustering/label quality metrics (simplified
silhouette, 1-NN label agreement, DBSCAN), TextRank keywords, audio
segmentation, k-anonymity, and the LSH-vs-exact recall evaluation.

These close the "measure the pipeline, not just run it" surface: sketches
get error-visible estimates, clusters get cohesion scores, labels get a
noise audit, near-dup candidate generation gets a recall report, and the
privacy posture gets a k-anonymity spectrum. Every oracle restates the
operator's exact arithmetic (integer-floored statistics, ROUND(fold, 6)
cosines, md5-parity signs, unrolled fixed-point PageRank rounds) so the
driver's value-hash compare is bit-exact; all DuckDB SUMs cast ::BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators import clustereval as CE
from cdc_stream_processor_spark.operators import dedup as D
from cdc_stream_processor_spark.operators import frequency as FR
from cdc_stream_processor_spark.operators import multimodal as M
from cdc_stream_processor_spark.operators import profiling as PF
from cdc_stream_processor_spark.operators import similarity as S
from cdc_stream_processor_spark.operators import text as X
from cdc_stream_processor_spark.queries import QueryFn
from cdc_stream_processor_spark.queries_extensions import (
    _FOLD_SUM,
    _minhash_pairs_ctes,
    JACCARD_THRESHOLD,
    NEAR_DUP_COSINE,
    SQL_EMBEDDING_CENTROIDS,
)
from cdc_stream_processor_spark.sources import batch as B

_TOKS = TH.TOKENS_SQL.format(text="text")


# --- AMS tug-of-war F2 sketch over the token stream ----------------------------


def q_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = B.load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TH.tokens(F.col("text"))).alias("key"))
    return FR.ams_f2(toks, key_col="key")


def _ams_sign_sql(j: str, k: str) -> str:
    return (
        f"((('0x' || substr(md5({j} || '|' || {k}), 1, 8))"
        f"::UBIGINT::BIGINT % 2) * 2 - 1)"
    )


SQL_AMS_F2_TOKENS = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS k FROM documents
), counts AS (
  SELECT k, COUNT(*) AS f FROM toks GROUP BY k
), est AS (
  SELECT g.j AS estimator,
         SUM({_ams_sign_sql("g.j", "k")} * f)::BIGINT AS signed_sum
  FROM counts, generate_series(0, {FR.AMS_ESTIMATORS - 1}) g(j)
  GROUP BY g.j
), exact AS (
  SELECT SUM(f * f)::BIGINT AS f2_exact FROM counts
)
SELECT estimator, signed_sum,
       (signed_sum * signed_sum)::BIGINT AS f2_estimate, f2_exact
FROM est CROSS JOIN exact
"""


# --- simplified silhouette per label -------------------------------------------


def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CE.silhouette_by_label(B.load_table(spark, sf_dir, "embeddings"))


def _silhouette_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(v.v, c.centroid), p -> p[1] * p[2])"
    )
    nv = _FOLD_SUM.format(arr="list_transform(v.v, x -> x * x)")
    nc = _FOLD_SUM.format(arr="list_transform(c.centroid, x -> x * x)")
    return f"""
WITH cents AS ({SQL_EMBEDDING_CENTROIDS}),
v AS (
  SELECT vec_id, label AS own_label,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), scored AS (
  SELECT v.vec_id, v.own_label, c.label AS cent_label,
         ROUND(({dot}) / (sqrt({nv}) * sqrt({nc})), 6) AS sim
  FROM v CROSS JOIN cents c
), per_point AS (
  SELECT vec_id, own_label,
         MAX(CASE WHEN cent_label = own_label THEN sim END) AS s_own,
         MAX(CASE WHEN cent_label != own_label THEN sim END) AS s_other
  FROM scored GROUP BY vec_id, own_label
), pts AS (
  SELECT own_label AS label,
         CASE WHEN greatest(1.0 - s_own, 1.0 - s_other) = 0.0 THEN 0
         ELSE FLOOR((((1.0 - s_other) - (1.0 - s_own))
                     / greatest(1.0 - s_own, 1.0 - s_other))
                    * {float(CE.SIL_SCALE)})::BIGINT
         END AS s_scaled
  FROM per_point
)
SELECT label, COUNT(*) AS n_vecs,
       SUM(s_scaled)::BIGINT AS silhouette_sum_scaled,
       SUM(s_scaled)::BIGINT::DOUBLE
         / (COUNT(*) * {CE.SIL_SCALE})::DOUBLE AS mean_silhouette
FROM pts GROUP BY label
"""


# --- leave-one-out 1-NN label agreement ----------------------------------------


def q_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CE.knn_label_agreement(
        B.load_table(spark, sf_dir, "embeddings"), block_size=512
    )


def _knn_label_agreement_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])"
    )
    na = _FOLD_SUM.format(arr="list_transform(a.e, x -> x * x)")
    nb = _FOLD_SUM.format(arr="list_transform(b.e, x -> x * x)")
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
), scored AS (
  SELECT a.vec_id, a.label AS own_label, b.vec_id AS neighbor_id,
         b.label AS nb_label,
         ROUND({dot} / (sqrt({na}) * sqrt({nb})), 6) AS cosine_sim
  FROM v a JOIN v b ON a.vec_id != b.vec_id
), nn AS (
  SELECT vec_id, own_label, nb_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank = 1
)
SELECT own_label AS label, COUNT(*) AS n_vecs,
       SUM((own_label = nb_label)::BIGINT)::BIGINT AS n_matched,
       SUM((own_label = nb_label)::BIGINT)::BIGINT::DOUBLE
         / COUNT(*)::DOUBLE AS agreement
FROM nn GROUP BY own_label
"""


# --- DBSCAN over the embedding near-dup pair graph -----------------------------


def q_dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the ε=NEAR_DUP_COSINE neighborhood graph. The pair
    table is the memoized LSH-candidate path (shared with the
    embedding_near_dup queries — one signature build per session); the
    oracle states exact all-pairs SQL, so agreement also re-proves the
    LSH no-miss bound."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    dim = B.embedding_dim(sf_dir)
    pairs = S.lsh_near_dup_pairs(emb, threshold=NEAR_DUP_COSINE, dim=dim)
    return CE.dbscan_from_pairs(emb, pairs, min_pts=CE.DBSCAN_MIN_PTS)


def _dbscan_sql() -> str:
    dot = _FOLD_SUM.format(
        arr="list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])"
    )
    na = _FOLD_SUM.format(arr="list_transform(a.e, x -> x * x)")
    nb = _FOLD_SUM.format(arr="list_transform(b.e, x -> x * x)")
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), prs AS (
  SELECT * FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({dot} / (sqrt({na}) * sqrt({nb})), 6) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
  ) WHERE cosine_sim >= {NEAR_DUP_COSINE}
), adj AS (
  SELECT vec_a AS src, vec_b AS dst FROM prs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM prs
), deg AS (
  SELECT src, COUNT(*) AS deg FROM adj GROUP BY src
), cores AS (
  SELECT src AS core_id FROM deg WHERE deg >= {CE.DBSCAN_MIN_PTS}
), ce AS (
  SELECT p.vec_a, p.vec_b FROM prs p
  JOIN cores x ON p.vec_a = x.core_id
  JOIN cores y ON p.vec_b = y.core_id
), cedges AS (
  SELECT vec_a AS src, vec_b AS dst FROM ce
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM ce
), reach(id, r) AS (
  SELECT src, src FROM cedges
  UNION
  SELECT rc.id, e.dst FROM reach rc JOIN cedges e ON e.src = rc.r
), comp AS (
  SELECT id, MIN(r) AS rep FROM reach GROUP BY id
), core_cluster AS (
  SELECT c.core_id, COALESCE(k.rep, c.core_id) AS cluster
  FROM cores c LEFT JOIN comp k ON c.core_id = k.id
), border AS (
  SELECT a.src AS vec_id, MIN(cc.cluster) AS cluster
  FROM adj a JOIN core_cluster cc ON a.dst = cc.core_id
  WHERE a.src NOT IN (SELECT core_id FROM cores)
  GROUP BY a.src
)
SELECT core_id AS vec_id, cluster, 'core' AS role FROM core_cluster
UNION ALL
SELECT vec_id, cluster, 'border' AS role FROM border
UNION ALL
SELECT vec_id, NULL::BIGINT AS cluster, 'noise' AS role
FROM embeddings
WHERE vec_id NOT IN (SELECT core_id FROM core_cluster)
  AND vec_id NOT IN (SELECT vec_id FROM border)
"""


# --- TextRank keywords ----------------------------------------------------------


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.textrank_keywords(B.load_table(spark, sf_dir, "documents"))


def _textrank_sql() -> str:
    from cdc_stream_processor_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    tele = f"({(PR_DAMP_DEN - PR_DAMP_NUM)} * {PR_SCALE}) // ({PR_DAMP_DEN} * nn.n)"
    its = []
    prev = "pr0"
    for t in range(1, X.TEXTRANK_ITERS + 1):
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
WITH docs AS (
  SELECT {_TOKS} AS toks FROM documents
), bg AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM docs, unnest(generate_series(1, len(toks) - 1)) AS g(i)
), cooc AS (
  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b, COUNT(*) AS n
  FROM bg WHERE w1 != w2 GROUP BY 1, 2
  HAVING COUNT(*) >= {X.TEXTRANK_MIN_COOC}
), e AS (
  SELECT a AS src, b AS dst FROM cooc
  UNION ALL
  SELECT b AS src, a AS dst FROM cooc
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
SELECT node AS token, pr_q,
       ROUND(pr_q::DOUBLE / {float(PR_SCALE)!r}, 6) AS pagerank, rank
FROM (
  SELECT node, pr_q,
         ROW_NUMBER() OVER (ORDER BY pr_q DESC, node ASC) AS rank
  FROM {prev}
) WHERE rank <= {X.TEXTRANK_TOP_K}
"""


# --- audio segmentation ---------------------------------------------------------


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.media_from_documents(B.load_table(spark, sf_dir, "documents"))
    return M.audio_chunks(media).select(
        "media_id", "chunk_idx", "start_us", "end_us", "duration_us",
        "chunk_sha",
    )


SQL_AUDIO_CHUNKS = f"""
WITH clip AS (
  SELECT doc_id AS media_id, text, sha256(text) AS h
  FROM documents WHERE doc_id % 4 = 1
), dur AS (
  SELECT media_id, text,
         1000000 + ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
                   * 62500 AS duration_us
  FROM clip
), idx AS (
  SELECT media_id, text, duration_us,
         unnest(generate_series(
           0, (duration_us + {M.AUDIO_CHUNK_US - 1}) // {M.AUDIO_CHUNK_US} - 1
         )) AS chunk_idx
  FROM dur
)
SELECT media_id, chunk_idx,
       chunk_idx * {M.AUDIO_CHUNK_US} AS start_us,
       least(chunk_idx * {M.AUDIO_CHUNK_US} + {M.AUDIO_CHUNK_US},
             duration_us) AS end_us,
       duration_us,
       sha256(text || ':' || chunk_idx) AS chunk_sha
FROM idx
"""


# --- k-anonymity audit ----------------------------------------------------------


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QI combination: (nation, market segment, ₦1000 balance bucket) —
    the released columns a linkage attacker would join on; the balance
    bucket generalizes the continuous column (raw values are singletons)."""
    cust = B.load_table(spark, sf_dir, "customer")
    return PF.k_anonymity(
        cust,
        [
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias(
                "bal_bucket"
            ),
        ],
    )


SQL_K_ANONYMITY_AUDIT = f"""
WITH sizes AS (
  SELECT c_nationkey, c_mktsegment,
         FLOOR(c_acctbal / 1000.0)::BIGINT AS bal_bucket,
         COUNT(*) AS group_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT group_size, COUNT(*) AS n_groups,
       SUM(group_size)::BIGINT AS n_rows,
       group_size < {PF.K_ANON_K} AS at_risk
FROM sizes GROUP BY group_size
"""


# --- LSH-vs-exact recall evaluation ---------------------------------------------


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH candidate generator against the
    exact shingle-Jaccard pair set AT THE SAME THRESHOLD — the
    measure-the-sketch report for the dedup family. Both sides score
    exact Jaccard over the same shingle-hash sets (one memoized
    signature build), so LSH pairs ⊆ exact pairs by construction:
    n_extra is 0 unless the banding is broken (tripwired here), and
    recall = found / exact is the banding miss rate made visible.
    One-row output; the aggregate join is pair-table-scale (dup-rate-
    sized, never corpus-scale)."""
    docs = B.load_table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    lsh = D.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.lit(1).alias("found")
    )
    joined = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    return joined.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(
            F.when(F.col("found").isNull(), 0).otherwise(1).cast("long")
        ).alias("n_lsh"),
        F.sum(
            F.when(F.col("found").isNull(), 1).otherwise(0).cast("long")
        ).alias("n_missed"),
    ).select(
        "n_union",
        "n_lsh",
        "n_missed",
        (
            F.col("n_lsh").cast("double")
            / F.greatest(F.col("n_union"), F.lit(1)).cast("double")
        ).alias("recall_lower_bound"),
    )


def _lsh_recall_eval_sql() -> str:
    return (
        _minhash_pairs_ctes()
        + f"""
, einv AS (
  SELECT doc_id, unnest(hs) AS h FROM shh
), epairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM einv a JOIN einv b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), esizes AS (
  SELECT doc_id, len(hs) AS n FROM shh
), exactp AS (
  -- ROUND(j, 6) before thresholding, matching ngram_jaccard_pairs and the
  -- `pairs` CTE: without it a raw jaccard within 5e-7 below the threshold
  -- diverges from the LSH side's rounded compare (r8, per ADVICE)
  SELECT p.doc_a, p.doc_b
  FROM epairs p JOIN esizes x ON p.doc_a = x.doc_id
  JOIN esizes y ON p.doc_b = y.doc_id
  WHERE ROUND(p.shared::DOUBLE / (x.n + y.n - p.shared)::DOUBLE, 6)
        >= {JACCARD_THRESHOLD}
), joined AS (
  SELECT COALESCE(e.doc_a, l.doc_a) AS doc_a,
         COALESCE(e.doc_b, l.doc_b) AS doc_b,
         (l.doc_a IS NOT NULL)::BIGINT AS found
  FROM exactp e FULL OUTER JOIN pairs l
    ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
)
SELECT COUNT(*) AS n_union,
       SUM(found)::BIGINT AS n_lsh,
       SUM(1 - found)::BIGINT AS n_missed,
       SUM(found)::BIGINT::DOUBLE
         / greatest(COUNT(*), 1)::DOUBLE AS recall_lower_bound
FROM joined
"""
    )


# --- MinHash estimator calibration ----------------------------------------------


def q_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_estimate_vs_exact(
        B.load_table(spark, sf_dir, "documents")
    )


def _minhash_est_vs_exact_sql() -> str:
    # _minhash_pairs_ctes ends at `pairs` (>= threshold); calibration reads
    # the pre-threshold `scored` candidates plus the signature arrays in `mh`
    return (
        _minhash_pairs_ctes()
        + f"""
, sig AS (
  SELECT c.doc_a, c.doc_b,
         len(list_filter(list_zip(x.m, y.m), p -> p[1] = p[2]))::BIGINT
           AS sig_matches
  FROM cand c JOIN mh x ON c.doc_a = x.doc_id
  JOIN mh y ON c.doc_b = y.doc_id
)
SELECT s.doc_a, s.doc_b, g.sig_matches, s.jaccard,
       ((1000 * g.sig_matches) // {D.N_MINHASH})::BIGINT AS est_milli
FROM scored s JOIN sig g ON s.doc_a = g.doc_a AND s.doc_b = g.doc_b
"""
    )


# --- kNN hubness (in-degree spectrum) --------------------------------------------


def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators.graph import in_degree_spectrum
    from cdc_stream_processor_spark.queries_extensions import KNN_K

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return in_degree_spectrum(
        edges, emb.select(F.col("vec_id").alias("node"))
    )


def _knn_hubness_sql() -> str:
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        _knn_graph_sql,
    )

    knn_full = _knn_graph_sql().strip().removeprefix("WITH")
    knn = knn_full[
        : knn_full.rindex("SELECT vec_id, neighbor_id, cosine_sim, rank")
    ]
    return f"""
WITH {knn}
, e AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM (
    SELECT vec_id, neighbor_id, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
), indeg AS (
  SELECT dst, COUNT(*) AS in_degree FROM e GROUP BY dst
)
SELECT COALESCE(i.in_degree, 0)::BIGINT AS in_degree,
       COUNT(*) AS n_nodes
FROM embeddings v LEFT JOIN indeg i ON v.vec_id = i.dst
GROUP BY 1
"""


# --- entity resolution: pair scores -> entities -----------------------------------


def q_er_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators import linkage as L

    return L.er_entities(B.load_table(spark, sf_dir, "customer"))


def _er_entities_sql() -> str:
    from cdc_stream_processor_spark.operators import linkage as L

    return f"""
WITH RECURSIVE cpairs AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         levenshtein(a.c_name, b.c_name) AS nd,
         abs(a.c_acctbal - b.c_acctbal) <= {L.BAL_TOL} AS bc
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
), match_pairs AS (
  SELECT ka, kb FROM cpairs
  WHERE (CASE WHEN nd <= {L.NAME_STRONG_D} THEN {L.W_NAME_STRONG}
              WHEN nd <= {L.NAME_WEAK_D} THEN {L.W_NAME_WEAK}
              ELSE {L.W_NAME_MISS} END)
      + (CASE WHEN bc THEN {L.W_BAL} ELSE {L.W_BAL_MISS} END)
      >= {L.TIER_MATCH}
), eedges AS (
  SELECT ka AS src, kb AS dst FROM match_pairs
  UNION
  SELECT kb AS src, ka AS dst FROM match_pairs
), reach(id, r) AS (
  SELECT src, src FROM eedges
  UNION
  SELECT rc.id, e.dst FROM reach rc JOIN eedges e ON e.src = rc.r
), comp AS (
  SELECT id, MIN(r) AS rep FROM reach GROUP BY id
)
SELECT c.c_custkey,
       COALESCE(k.rep, c.c_custkey)::BIGINT AS entity_id,
       c.c_custkey = COALESCE(k.rep, c.c_custkey) AS is_canonical
FROM customer c LEFT JOIN comp k ON c.c_custkey = k.id
"""


# --- l-diversity audit ------------------------------------------------------------


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same QI classes as k_anonymity_audit minus the balance bucket,
    which becomes the SENSITIVE attribute — the homogeneity-attack check
    on what the k-anonymity release would actually leak."""
    cust = B.load_table(spark, sf_dir, "customer")
    return PF.l_diversity(
        cust,
        [F.col("c_nationkey"), F.col("c_mktsegment")],
        F.floor(F.col("c_acctbal") / 1000.0).cast("long"),
    )


SQL_L_DIVERSITY_AUDIT = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(DISTINCT FLOOR(c_acctbal / 1000.0)::BIGINT) AS l_distinct,
         COUNT(*) AS n_rows_g
  FROM customer GROUP BY 1, 2
)
SELECT l_distinct, COUNT(*) AS n_groups,
       SUM(n_rows_g)::BIGINT AS n_rows,
       l_distinct < {PF.L_DIV_L} AS at_risk
FROM classes GROUP BY l_distinct
"""


# --- kNN clustering coefficients ----------------------------------------------------


def q_knn_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators.graph import (
        clustering_coefficients,
    )
    from cdc_stream_processor_spark.queries_extensions import KNN_K

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return clustering_coefficients(
        edges, emb.select(F.col("vec_id").alias("node"))
    )


def _knn_clustering_coeff_sql() -> str:
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        _knn_graph_sql,
    )

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
), degt AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT lo AS node FROM ce UNION ALL SELECT hi FROM ce
  ) GROUP BY node
), w AS (
  SELECT x.lo AS a, x.hi AS b, y.hi AS c
  FROM ce x JOIN ce y ON x.lo = y.lo AND x.hi < y.hi
), tri AS (
  SELECT a, b, c FROM w JOIN ce ON ce.lo = w.b AND ce.hi = w.c
), trict AS (
  SELECT vertex, COUNT(*) AS n_triangles
  FROM (
    SELECT a AS vertex FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY vertex
)
SELECT v.vec_id AS node,
       COALESCE(d.degree, 0)::BIGINT AS degree,
       COALESCE(t.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN COALESCE(d.degree, 0) >= 2
            THEN (2 * COALESCE(t.n_triangles, 0))::DOUBLE
                 / (d.degree * (d.degree - 1))::DOUBLE
       END AS clustering_coeff
FROM embeddings v
LEFT JOIN degt d ON v.vec_id = d.node
LEFT JOIN trict t ON v.vec_id = t.vertex
"""


# --- watermark slack audit --------------------------------------------------------


def q_watermark_slack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata's events arrive perfectly ordered (0 inversions), so
    — like sequence_gap_audit's lossy channel — the registered form
    replays them through a DETERMINISTIC jittered-arrival channel
    (arrival = (event_id + md5(event_id) % 16)·1e6 + event_id: unique,
    locally shuffled) so the audit measures real planted disorder.
    Lateness is against the GLOBAL arrival-ordered running max — the
    semantics of a Structured Streaming watermark (r8, per ADVICE)."""
    ev = B.load_table(spark, sf_dir, "events")
    jitter = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 16
    )
    arrival = (F.col("event_id") + jitter) * F.lit(1_000_000) + F.col(
        "event_id"
    )
    return PF.watermark_slack_audit(ev, arrival)


SQL_WATERMARK_SLACK_AUDIT = """
WITH arr AS (
  SELECT epoch_us(ts) AS us,
         (event_id
          + ('0x' || substr(md5(event_id::VARCHAR), 1, 8))
            ::UBIGINT::BIGINT % 16) * 1000000 + event_id AS ak
  FROM events
), lt AS (
  SELECT (MAX(us) OVER (ORDER BY ak
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us)
           AS lateness_us
  FROM arr
)
SELECT COUNT(*) AS n_events,
       SUM((lateness_us > 0)::BIGINT)::BIGINT AS n_late,
       MAX(lateness_us)::BIGINT AS max_lateness_us,
       SUM(lateness_us)::BIGINT AS sum_lateness_us
FROM lt
"""


# --- embedding health audit --------------------------------------------------------


def q_embedding_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = B.load_table(spark, sf_dir, "embeddings")
    return S.embedding_health_audit(emb, expected_dim=B.embedding_dim(sf_dir))


def _embedding_health_sql(sf_dir_hint_dim: int | None = None) -> str:
    # the oracle derives the expected dim the same way the Spark wrapper
    # does: the modal (here: constant) array length of the corpus — stated
    # as a scalar subquery so the SQL needs no per-sf constant
    # TRY_CAST (r11 numeric divergence audit): a NaN/Inf/overflowing
    # component crashed the plain ::BIGINT cast — the oracle twin died on
    # the exact input class the audit exists to flag, while the Spark
    # side's try_cast NULLs the grid value (the vector reports through
    # n_nonfinite and the NULL n2 drops out of min/max on both engines)
    n2 = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(list_transform(embedding, "
        "x -> TRY_CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)), "
        "v -> v * v)), "
        "(a, b) -> a + b)"
    )
    nonfin = (
        "len(list_filter(embedding, x -> isnan(x::DOUBLE) "
        "or x::DOUBLE = 'infinity'::DOUBLE "
        "or x::DOUBLE = '-infinity'::DOUBLE)) > 0"
    )
    # NULL-vector rows (r12 --nulls audit): count ONLY under n_null —
    # every other per-vector metric is an explicit 0 (not NULL) for
    # them, exactly as the engine's when(~isNull, ...) otherwise(0);
    # the dim probe also skips NULL rows so a leading NULL can't NULL
    # the expected dim.
    return f"""
WITH dim AS (
  SELECT len(embedding) AS d FROM embeddings
  WHERE embedding IS NOT NULL LIMIT 1
), pv AS (
  SELECT label,
         (embedding IS NULL)::BIGINT AS null_vec,
         CASE WHEN embedding IS NULL THEN 0
              ELSE (len(embedding) != (SELECT d FROM dim))::BIGINT
         END AS wrong_dim,
         CASE WHEN embedding IS NULL THEN 0
              ELSE ({n2} = 0)::BIGINT END AS zero_vec,
         CASE WHEN embedding IS NULL THEN 0
              ELSE ({nonfin})::BIGINT END AS nonfin,
         -- list_prepend(0, NULL) folds to 0 in DuckDB, so the NULL row's
         -- norm2 must be NULLed explicitly (Spark's aggregate(NULL) is
         -- already NULL) or it would pollute MIN(n2)
         CASE WHEN embedding IS NULL THEN NULL ELSE {n2} END AS n2
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       SUM(null_vec)::BIGINT AS n_null,
       SUM(wrong_dim)::BIGINT AS n_wrong_dim,
       SUM(zero_vec)::BIGINT AS n_zero,
       SUM(nonfin)::BIGINT AS n_nonfinite,
       MIN(n2)::BIGINT AS min_norm2_scaled,
       MAX(n2)::BIGINT AS max_norm2_scaled
FROM pv GROUP BY label
"""


# --- timestamp health audit --------------------------------------------------------


def q_timestamp_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time audit over every timestamp column in the corpus — the
    temporal member of the health-audit family (embedding_health_audit
    audits vectors; this audits event time BEFORE calendar-spine /
    session-window / Arrow-exchange operators run). Flags the corrupt
    classes the r11 temporal stress fixture proved are job-killers:
    out-of-sane-calendar values (spine operators go quadratic on the
    span), pandas-ns-unrepresentable values (every Arrow/pandas exchange
    dies), and values PySpark's client row deserializer cannot even
    collect(). Emits epoch-us BIGINTs only — never a timestamp column —
    so the audit itself survives whatever it flags."""
    return PF.timestamp_health_audit(
        [
            ("events.ts", B.load_table(spark, sf_dir, "events"), "ts"),
            (
                "orders.o_orderdate",
                B.load_table(spark, sf_dir, "orders"),
                "o_orderdate",
            ),
            (
                "lineitem.l_shipdate",
                B.load_table(spark, sf_dir, "lineitem"),
                "l_shipdate",
            ),
        ]
    )


def _ts_health_sql() -> str:
    from cdc_stream_processor_spark.operators.profiling import (
        TS_PANDAS_NS_HI_US,
        TS_PANDAS_NS_LO_US,
        TS_SANE_HI_US,
        TS_SANE_LO_US,
    )

    def one(src: str, table: str, col: str) -> str:
        return f"""
  SELECT '{src}' AS src,
         COUNT(*)::BIGINT AS n_rows,
         COALESCE(SUM((us IS NULL)::BIGINT), 0)::BIGINT AS n_null,
         COALESCE(SUM((us < {TS_SANE_LO_US})::BIGINT), 0)::BIGINT
           AS n_pre_sane,
         COALESCE(SUM((us >= {TS_SANE_HI_US})::BIGINT), 0)::BIGINT
           AS n_post_sane,
         COALESCE(SUM((us < {TS_PANDAS_NS_LO_US}
                       OR us > {TS_PANDAS_NS_HI_US})::BIGINT), 0)::BIGINT
           AS n_outside_pandas_ns,
         MIN(us)::BIGINT AS min_epoch_us,
         MAX(us)::BIGINT AS max_epoch_us
  FROM (SELECT epoch_us({col}) AS us FROM {table})"""

    return (
        one("events.ts", "events", "ts")
        + "UNION ALL"
        + one("orders.o_orderdate", "orders", "o_orderdate")
        + "UNION ALL"
        + one("lineitem.l_shipdate", "lineitem", "l_shipdate")
    )


# --- IVF recall evaluation -----------------------------------------------------------


def q_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-flat ANN path against exact brute-force cosine
    over the standard query set — the vector-index twin of
    lsh_recall_eval (that one audits the DEDUP index; this audits the
    SEARCH index). Unlike the pinned >= 0.8 test bound, the registered
    report emits the ACTUAL hit count so recall drift across corpus
    regenerations is visible round over round. One row:
    (n_queries, k, n_hits, recall)."""
    from cdc_stream_processor_spark.queries_extensions import (
        QUERY_STRIDE,
        TOPK,
    )

    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    ivf = S.ivf_topk(queries, emb, k=TOPK).select("query_id", "neighbor_id")
    bf = S.brute_force_topk(queries, emb, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    hits = bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    nq = bf.select("query_id").distinct().count()
    return hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
        F.lit(nq).cast("long").alias("n_queries"),
        F.lit(TOPK).cast("long").alias("k"),
        "n_hits",
        # NULL recall on an empty denominator (empty query set — corpus
        # smaller than the query stride — or a zero k): DuckDB's division
        # by the same zero already yields NULL; the unguarded literal
        # division raised DIVIDE_BY_ZERO under ANSI.
        (
            F.when(
                F.lit(nq * TOPK) > 0,
                F.col("n_hits").cast("double") / F.lit(float(nq * TOPK)),
            )
        ).alias("recall"),
    )


def _ivf_recall_eval_sql() -> str:
    from cdc_stream_processor_spark.queries_extensions import (
        QUERY_STRIDE,
        TOPK,
        _FOLD_SUM as _FS,
        _ivf_ann_sql,
    )

    ivf_full = _ivf_ann_sql().strip()
    marker = "SELECT query_id, neighbor_id, cosine_sim, rank FROM ("
    idx = ivf_full.rindex(marker)
    ctes = ivf_full[:idx].rstrip()  # the WITH chain, ends with ')'
    final = ivf_full[idx:]
    dot = _FS.format(arr="list_transform(list_zip(q.e, c.e), z -> z[1] * z[2])")
    nq_ = _FS.format(arr="list_transform(q.e, x -> x * x)")
    nc_ = _FS.format(arr="list_transform(c.e, x -> x * x)")
    return f"""{ctes},
ivf AS (
{final}
), bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot} / (sqrt({nq_}) * sqrt({nc_})), 6) AS cosine_sim
  FROM v q JOIN v c ON q.vec_id != c.vec_id
  WHERE q.vec_id % {QUERY_STRIDE} = 0
), bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM bscored
  ) WHERE rank <= {TOPK}
), nqq AS (
  SELECT COUNT(DISTINCT query_id) AS n_queries FROM bf
)
-- ungrouped aggregate + scalar subqueries (r11 numeric/temporal
-- divergence audit): the former GROUP BY nqq.n_queries emitted ZERO
-- rows when the query set is empty (corpus smaller than the stride),
-- while the Spark side's ungrouped agg always emits its one report row
-- (n_queries=0, n_hits=0, recall NULL)
SELECT (SELECT n_queries FROM nqq)::BIGINT AS n_queries,
       {TOPK}::BIGINT AS k,
       COUNT(i.query_id)::BIGINT AS n_hits,
       CASE WHEN (SELECT n_queries FROM nqq) * {TOPK} > 0
            THEN COUNT(i.query_id)::DOUBLE
                 / ((SELECT n_queries FROM nqq) * {TOPK})::DOUBLE
       END AS recall
FROM bf LEFT JOIN ivf i
  ON bf.query_id = i.query_id AND bf.neighbor_id = i.neighbor_id
"""


# --- kNN graph mixing / partition quality -------------------------------------------


def q_knn_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators.graph import (
        degree_assortativity,
    )
    from cdc_stream_processor_spark.queries_extensions import KNN_K

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return degree_assortativity(edges)


def _knn_assortativity_sql() -> str:
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        _knn_graph_sql,
    )

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
), degt AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT lo AS node FROM ce UNION ALL SELECT hi FROM ce
  ) GROUP BY node
), both_o AS (
  SELECT lo, hi FROM ce UNION ALL SELECT hi AS lo, lo AS hi FROM ce
), prs AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM both_o b JOIN degt dx ON b.lo = dx.node
  JOIN degt dy ON b.hi = dy.node
), m AS (
  SELECT COUNT(*) AS n, SUM(dx)::BIGINT AS sx, SUM(dy)::BIGINT AS sy,
         SUM(dx * dy)::BIGINT AS sxy, SUM(dx * dx)::BIGINT AS sxx,
         SUM(dy * dy)::BIGINT AS syy
  FROM prs
)
SELECT (n // 2)::BIGINT AS n_edges,
  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
       THEN (n * sxy - sx * sy)::DOUBLE
            / (sqrt((n * sxx - sx * sx)::DOUBLE)
               * sqrt((n * syy - sy * sy)::DOUBLE))
  END AS assortativity
FROM m
"""


def q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of each knn_communities partition — detection plus its
    quality score (low conductance = well-separated community)."""
    from cdc_stream_processor_spark.operators.graph import (
        community_conductance,
        label_propagation,
    )
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        LPA_ROUNDS,
    )

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    comms = label_propagation(edges, n_rounds=LPA_ROUNDS)
    return community_conductance(edges, comms)


def _community_conductance_sql() -> str:
    from cdc_stream_processor_spark.queries_extensions import (
        _knn_communities_sql,
    )

    lpa = _knn_communities_sql().strip()
    marker = "SELECT node, label AS community FROM"
    idx = lpa.rindex(marker)
    ctes = lpa[:idx].rstrip()
    final = lpa[idx:]
    # MATERIALIZED: comm is referenced three times (both endpoint joins +
    # the size rollup); inlined, DuckDB re-executes the whole unrolled
    # LPA chain per reference and OOMs at gate scale
    return f"""{ctes},
comm AS MATERIALIZED (
{final}
), cce AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e WHERE src <> dst
), tagged AS (
  SELECT a.community AS ca, b.community AS cb
  FROM cce JOIN comm a ON cce.lo = a.node JOIN comm b ON cce.hi = b.node
), owners AS (
  SELECT ca AS community,
         (ca = cb)::BIGINT AS internal, (ca != cb)::BIGINT AS cut
  FROM tagged
  UNION ALL
  SELECT cb AS community, 0::BIGINT AS internal, 1::BIGINT AS cut
  FROM tagged WHERE ca != cb
), per_comm AS (
  SELECT community, SUM(internal)::BIGINT AS internal_edges,
         SUM(cut)::BIGINT AS cut_edges
  FROM owners GROUP BY community
), sizes AS (
  SELECT community, COUNT(*) AS n_nodes FROM comm GROUP BY community
)
SELECT s.community, s.n_nodes,
       COALESCE(p.internal_edges, 0)::BIGINT AS internal_edges,
       COALESCE(p.cut_edges, 0)::BIGINT AS cut_edges,
       CASE WHEN 2 * COALESCE(p.internal_edges, 0)
                 + COALESCE(p.cut_edges, 0) > 0
            THEN COALESCE(p.cut_edges, 0)::DOUBLE
                 / (2 * COALESCE(p.internal_edges, 0)
                    + COALESCE(p.cut_edges, 0))::DOUBLE
       END AS conductance
FROM sizes s LEFT JOIN per_comm p ON s.community = p.community
"""


# --- personalized PageRank over the kNN graph --------------------------------------


def q_ppr_related_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk-with-restart proximity to the standard query-vector
    seed set over the memoized exact kNN graph — multi-hop 'related
    items' beyond the direct top-k list."""
    from cdc_stream_processor_spark.operators.graph import (
        personalized_pagerank,
    )
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        QUERY_STRIDE,
    )

    emb = B.load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=KNN_K, block_size=512).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    seeds = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("node")
    )
    return personalized_pagerank(edges, seeds, n_iter=3)


def _ppr_sql() -> str:
    from cdc_stream_processor_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )
    from cdc_stream_processor_spark.queries_extensions import (
        KNN_K,
        QUERY_STRIDE,
        _knn_graph_sql,
    )

    knn_full = _knn_graph_sql().strip().removeprefix("WITH")
    knn = knn_full[
        : knn_full.rindex("SELECT vec_id, neighbor_id, cosine_sim, rank")
    ]
    tele = (
        f"({(PR_DAMP_DEN - PR_DAMP_NUM)} * {PR_SCALE})"
        f" // ({PR_DAMP_DEN} * ns.n)"
    )
    its = []
    prev = "pr0"
    for t in range(1, 4):
        its.append(f"""it{t} AS (
  SELECT m.node, m.is_seed,
         CAST(CASE WHEN m.is_seed THEN {tele} ELSE 0 END
              + (COALESCE(s.g, 0) * {PR_DAMP_NUM}) // {PR_DAMP_DEN}
              AS BIGINT) AS pr_q
  FROM marked m CROSS JOIN ns
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
), sds AS (
  SELECT DISTINCT vec_id AS node FROM embeddings
  WHERE vec_id % {QUERY_STRIDE} = 0
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e
    UNION ALL SELECT dst FROM e
    UNION ALL SELECT node FROM sds
  )
), ns AS (
  SELECT COUNT(*) AS n FROM sds
), marked AS (
  SELECT n.node, (s.node IS NOT NULL) AS is_seed
  FROM nodes n LEFT JOIN sds s ON n.node = s.node
), od AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), pr0 AS (
  SELECT m.node, m.is_seed,
         CAST(CASE WHEN m.is_seed THEN {PR_SCALE} // ns.n ELSE 0 END
              AS BIGINT) AS pr_q
  FROM marked m CROSS JOIN ns
),
{iter_sql}
SELECT node, is_seed, pr_q,
       pr_q::DOUBLE / {float(PR_SCALE)!r} AS pagerank
FROM {prev}
"""


# --- frequent sequential patterns ---------------------------------------------------


def q_frequent_event_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators import relational as R

    return R.frequent_event_sequences(B.load_table(spark, sf_dir, "events"))


def _frequent_event_seqs_sql() -> str:
    from cdc_stream_processor_spark.operators.relational import (
        SEQ_GRAM_LEN,
        SEQ_TOP_K,
    )

    assert SEQ_GRAM_LEN == 3  # the oracle states the 3-gram form
    return f"""
WITH seqs AS (
  SELECT user_id AS u, list(event_type ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
), grams AS (
  SELECT u, s[g.i] || '>' || s[g.i + 1] || '>' || s[g.i + 2] AS pattern
  FROM seqs, unnest(generate_series(1, len(s) - 2)) AS g(i)
  WHERE len(s) >= 3
), pu AS (
  SELECT u, pattern, COUNT(*) AS occ FROM grams GROUP BY 1, 2
), agg AS (
  SELECT pattern, COUNT(*) AS n_users, SUM(occ)::BIGINT AS n_occurrences
  FROM pu GROUP BY 1
)
SELECT pattern, n_users, n_occurrences, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY n_users DESC, n_occurrences DESC, pattern ASC) AS rank
  FROM agg
) WHERE rank <= {SEQ_TOP_K}
"""


# --- Theil-Sen robust daily trend -----------------------------------------------------


def q_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_stream_processor_spark.operators import relational as R

    return R.theil_sen_daily(B.load_table(spark, sf_dir, "events"))


def _theil_sen_sql() -> str:
    from cdc_stream_processor_spark.operators.relational import DAY_US

    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1
), slopes AS (
  SELECT a.day AS da, b.day AS db,
         (b.cnt - a.cnt)::DOUBLE / (b.day - a.day)::DOUBLE AS slope
  FROM daily a JOIN daily b ON a.day < b.day
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY slope ASC, da ASC, db ASC) AS rn
  FROM slopes
), st AS (SELECT COUNT(*) AS n_pairs FROM slopes),
nd AS (SELECT COUNT(*) AS n_days FROM daily)
SELECT n_days, n_pairs, slope AS ts_slope_per_day,
       da AS med_day_a, db AS med_day_b
FROM ranked CROSS JOIN st CROSS JOIN nd
WHERE rn = (n_pairs + 1) // 2
"""


# --- corpus datasheet (one-row release report) ------------------------------------------


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus release report ('datasheets for datasets', Gebru
    et al. 2021): sizes, vocabulary, source/language spread, exact-dup
    count, mean length. Each COUNT(DISTINCT) runs in its own skinny
    two-phase aggregation (never one combined agg — a multi-distinct agg
    plans an Expand row multiplier; the profile_table lesson), then the
    1-row results crossJoin(broadcast)."""
    docs = B.load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.size(TH.tokens(F.col("text")))).alias("total_tokens"),
    )
    vocab = (
        docs.select(F.explode(TH.tokens(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t").alias("vocab_size"))
    )
    srcs = docs.agg(F.countDistinct("source").alias("n_sources"))
    langs = docs.agg(F.countDistinct("lang").alias("n_langs"))
    uniq = docs.agg(F.countDistinct(norm).alias("n_unique_texts"))
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(srcs))
        .crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(uniq))
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            "n_sources",
            "n_langs",
            (F.col("n_docs") - F.col("n_unique_texts")).alias("n_dup_docs"),
            (
                F.col("total_chars").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("avg_chars"),
        )
    )


SQL_CORPUS_DATASHEET = f"""
WITH base AS (
  SELECT COUNT(*) AS n_docs,
         SUM(length(text))::BIGINT AS total_chars,
         SUM(len({_TOKS}))::BIGINT AS total_tokens
  FROM documents
), vocab AS (
  SELECT COUNT(DISTINCT t) AS vocab_size
  FROM (SELECT unnest({_TOKS}) AS t FROM documents)
), meta AS (
  SELECT COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS n_unique_texts
  FROM documents
)
SELECT n_docs, total_tokens, vocab_size, n_sources, n_langs,
       (n_docs - n_unique_texts)::BIGINT AS n_dup_docs,
       total_chars::DOUBLE / n_docs::DOUBLE AS avg_chars
FROM base CROSS JOIN vocab CROSS JOIN meta
"""


# Registration order = driver-rotation order for never-checked entries:
# the driver verifies the FIRST 50 never-green queries per round, so the
# complex oracles register first and any window-50 overflow falls on the
# four most trivial entries (map-only / two-agg spectra), which carry
# multiple local greens at both SFs this session.
QUERIES: dict[str, tuple[QueryFn, str]] = {
    "ams_f2_tokens": (q_ams_f2_tokens, SQL_AMS_F2_TOKENS),
    "minhash_est_vs_exact": (q_minhash_est_vs_exact, _minhash_est_vs_exact_sql()),
    "knn_hubness": (q_knn_hubness, _knn_hubness_sql()),
    "er_entities": (q_er_entities, _er_entities_sql()),
    "knn_clustering_coeff": (q_knn_clustering_coeff, _knn_clustering_coeff_sql()),
    "frequent_event_seqs": (q_frequent_event_seqs, _frequent_event_seqs_sql()),
    "theil_sen_daily": (q_theil_sen_daily, _theil_sen_sql()),
    "ivf_recall_eval": (q_ivf_recall_eval, _ivf_recall_eval_sql()),
    "watermark_slack_audit": (q_watermark_slack_audit, SQL_WATERMARK_SLACK_AUDIT),
    "embedding_health_audit": (q_embedding_health_audit, _embedding_health_sql()),
    "timestamp_health_audit": (q_timestamp_health_audit, _ts_health_sql()),
    "silhouette_by_label": (q_silhouette_by_label, _silhouette_sql()),
    "knn_label_agreement": (q_knn_label_agreement, _knn_label_agreement_sql()),
    "dbscan_labels": (q_dbscan_labels, _dbscan_sql()),
    "textrank_keywords": (q_textrank_keywords, _textrank_sql()),
    "lsh_recall_eval": (q_lsh_recall_eval, _lsh_recall_eval_sql()),
    "ppr_related_vectors": (q_ppr_related_vectors, _ppr_sql()),
    "knn_assortativity": (q_knn_assortativity, _knn_assortativity_sql()),
    "community_conductance": (q_community_conductance, _community_conductance_sql()),
    # window-50 overflow candidates (roll to r8 if the window fills):
    "audio_chunks": (q_audio_chunks, SQL_AUDIO_CHUNKS),
    "k_anonymity_audit": (q_k_anonymity_audit, SQL_K_ANONYMITY_AUDIT),
    "l_diversity_audit": (q_l_diversity_audit, SQL_L_DIVERSITY_AUDIT),
    "corpus_datasheet": (q_corpus_datasheet, SQL_CORPUS_DATASHEET),
}
