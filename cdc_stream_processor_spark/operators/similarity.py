"""Vector similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The dot product is a JVM-side
  zip_with + left-fold aggregate in double precision — deterministic
  accumulation order, so it is bit-identical to the DuckDB oracle's
  list_reduce fold. Query set is broadcast against the corpus; per-query
  top-k uses a ranking window with rank pushdown (WindowGroupLimit), so
  only k rows per query survive the shuffle.
- lsh_topk: sign-random-projection LSH (Charikar '02): deterministic
  pseudo-random hyperplanes (LCG-derived, no RNG state), bucket on the sign
  bits, search only the query's bucket (+ optional multi-probe). At 100 TB
  the bucket join replaces the corpus broadcast: shuffle on bucket id.
  Approximate — recall is asserted against brute force in tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_stream_processor_spark.operators.memo import memoized
from cdc_stream_processor_spark.operators.relational import top_k_per_group
from cdc_stream_processor_spark.plans.layout import ensure_parallelism


def _fold_sum(arr: Column) -> Column:
    """Left-fold double sum — deterministic order (matches DuckDB list_reduce)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    """Fold cosine with NULL on a zero-norm side — the DuckDB twin's
    semantics exactly (DuckDB float division by zero yields NULL); the
    unguarded division raised DIVIDE_BY_ZERO under ANSI mode the moment
    a zero vector (failed upstream embed) reached it."""
    den = norm(a) * norm(b)
    return F.when(den != F.lit(0.0), dot(a, b) / den)


def as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def _cosine_pandas_udf():
    """Vectorized cosine over (qv, cv) array<double> columns. BLAS-speed
    einsum with sequential re-fold of rounding-boundary rows
    (fasthash.fast_cosine_rowwise), so ROUND(·, 6) stays bit-identical to
    the F.aggregate / DuckDB list_reduce fold."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    from cdc_stream_processor_spark.functions.fasthash import fast_cosine_rowwise

    @pandas_udf(T.DoubleType())
    def cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=np.float64)
        a = np.vstack([np.asarray(v, dtype=np.float64) for v in qv])
        b = np.vstack([np.asarray(v, dtype=np.float64) for v in cv])
        return pd.Series(fast_cosine_rowwise(a, b))

    return cos


@memoized
def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors (query_id, neighbor_id, cosine_sim, rank);
    self-matches excluded.

    Memoized: the neighbor table is the shared sub-result of
    `cosine_topk` (which returns it) and `ivf_recall_eval` (which uses it
    as ground truth) on the identical query set (r12 optimization)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    cos = _cosine_pandas_udf()
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def cosine_pairs(
    vecs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
    part_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine similarity ≥ threshold, emitted once per pair as
    (vec_a < vec_b, cosine_sim).

    Execution shape — block-matrix self-join, fully distributed (no driver
    collect, nothing rides in a task closure):

    1. hash vectors into B ≈ ⌈n/block_size⌉ blocks (``vec_id % B``) and pack
       each block into one row of (id[], vec[]) arrays — one shuffle;
    2. enumerate the B(B+1)/2 unordered block combos with a self cross-join
       of the B-row block table (block i pairs with j ≥ i);
    3. per combo, an Arrow-batched kernel computes the (block × block) Gram
       product as ONE normalized float64 matmul; only candidate entries
       landing within 1e-10 of a 6-dp rounding boundary are re-accumulated
       with the left-to-right fold (fasthash.fast_cosine_gram_candidates),
       so the ROUNDed values stay bit-identical to the F.aggregate / DuckDB
       list_reduce oracle at BLAS speed with no full-matrix temporaries.

    O(n²/B) shuffle bytes and O(n²d) flops spread over B(B+1)/2 independent
    tasks: executors hold two blocks (2·block_size·d doubles) at a time, so
    the operator survives any corpus size — compute cost, not memory, is the
    scale limit, which is inherent to EXACT all-pairs. For real corpora use
    the LSH/MinHash candidate families and keep this as the verify/oracle
    surface.

    With `part_col`, pairs are scoped WITHIN each partition value (the
    SemDeDup cluster case): block counts derive per-partition from a
    broadcast size table — ⌈|part|/block_size⌉ blocks each — so a small
    cluster is one combo task and a huge one still sub-chunks; total cost
    drops from O(n²) to O(Σ|part|²). The size lookup also replaces the
    former driver-side count(): the whole operator is lazy."""
    import numpy as np

    part = F.col(part_col) if part_col else F.lit(0)
    v = vecs.select(
        part.alias("part"),
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    sizes = v.groupBy("part").agg(F.count(F.lit(1)).alias("pn"))
    n_blocks = F.greatest(
        F.lit(1), F.ceil(F.col("pn") / F.lit(float(block_size)))
    ).cast("long")
    blocks = (
        v.join(F.broadcast(sizes), "part")
        .withColumn("blk", F.pmod(F.col("vec_id"), n_blocks))
        .groupBy("part", "blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("v").alias("vs"),
        )
        .persist()
    )
    combos = (
        blocks.select(
            F.col("part").alias("part_a"),
            F.col("blk").alias("blk_a"),
            F.col("ids").alias("ids_a"),
            F.col("vs").alias("vs_a"),
        )
        .join(
            blocks.select(
                F.col("part").alias("part_b"),
                F.col("blk").alias("blk_b"),
                F.col("ids").alias("ids_b"),
                F.col("vs").alias("vs_b"),
            ),
            (F.col("part_a") == F.col("part_b"))
            & (F.col("blk_a") <= F.col("blk_b")),
            "inner",
        )
    )

    from cdc_stream_processor_spark.functions.fasthash import (
        fast_cosine_gram_candidates,
    )

    def score_combo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                A = np.vstack([np.asarray(x) for x in row["vs_a"]])
                Bm = np.vstack([np.asarray(x) for x in row["vs_b"]])
                # one normalized float64 matmul + loose pre-filter (exact
                # threshold applied after F.round so rounding semantics live
                # in one engine pair); boundary-adjacent candidates are
                # re-folded sequentially, keeping bit parity with the oracle
                ai, bi, sim = fast_cosine_gram_candidates(
                    A, Bm, threshold - 1e-6
                )
                ia, ib = ids_a[ai], ids_b[bi]
                # same-block combos see each unordered pair twice ((p,q) and
                # (q,p)): keep a<b. Cross-block combos see it once (each id
                # lives in exactly one block): keep all, emit (min, max).
                if row["blk_a"] == row["blk_b"]:
                    keep = ia < ib
                    ia, ib, sim = ia[keep], ib[keep], sim[keep]
                yield pd.DataFrame(
                    {
                        "vec_a": np.minimum(ia, ib),
                        "vec_b": np.maximum(ia, ib),
                        "raw_sim": sim,
                    }
                )

    scored = combos.mapInPandas(
        score_combo, schema="vec_a long, vec_b long, raw_sim double"
    )
    return (
        scored.withColumn("cosine_sim", F.round(F.col("raw_sim"), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", "cosine_sim")
    )


@memoized
def lsh_near_dup_pairs(
    vecs: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 2,
    n_tables: int = 32,
    block_size: int = 4096,
) -> DataFrame:
    """Sub-quadratic near-dup pairs: SRP-LSH bucket self-join for candidates,
    exact cosine verify ≥ threshold. Output contract = cosine_pairs
    (vec_a < vec_b, cosine_sim rounded to 6), minus pairs missed by LSH.

    Recall is a computable function of the parameters: a pair at cosine t
    collides in one table with p = (1 - arccos(t)/π)^n_planes and is missed
    with (1-p)^n_tables. The defaults (2 planes × 32 tables) give miss
    < 1e-7 for t ≥ 0.4 — effectively exhaustive on any corpus (equality vs
    the exact operator is asserted in tests) — while keeping the join an
    equi-join on (table, bucket). Raise n_planes for high thresholds to
    shrink buckets (at t ≥ 0.9, 8 planes × 16 tables still misses < 1e-6
    and cuts candidate volume by ~2⁶ per table): that's the knob that makes
    this the 100 TB path where the exact blocked product is O(n²).

    Execution shape — verify INSIDE the bucket, never materialize the
    candidate-pair list: vectors are packed per (table, bucket) with
    collect_list and each bucket is scored by ONE normalized matmul
    (fasthash.fast_cosine_gram_candidates). Only pairs that already pass
    the threshold leave a task (≈ |output| × L rows into the final
    dedup), versus the candidate-equi-join formulation whose shuffle
    carries every colliding pair (~n²·L/2^planes skinny rows at low
    thresholds) into a verify join. Hot buckets are sub-chunked to
    ``block_size`` rows (chunk-combo self-join, same pattern as
    cosine_pairs), so per-task memory stays O(block_size·d) at any
    corpus size; n_planes remains the candidate-volume knob.

    Memoized: the pair table is the shared sub-result of
    `embedding_near_dup_pairs` AND `embedding_near_dup` (keep-first
    dedup), and output-scale (≥-threshold pairs only) — the cheapest
    thing in the operator to pin."""
    import numpy as np

    n = vecs.count()
    chunks = max(1, -(-n // ((1 << n_planes) * block_size)))
    v = vecs.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    b = _with_buckets(
        ensure_parallelism(v).select("vid", F.col("v").alias("_v")),
        dim,
        n_planes,
        n_tables,
        weight_fn=_plane_weight_mixed,
    ).select("vid", F.col("_v").alias("v"), "table_idx", "bucket")
    packed = (
        b.withColumn("chk", F.pmod(F.col("vid"), F.lit(chunks)))
        .groupBy("table_idx", "bucket", "chk")
        .agg(F.collect_list("vid").alias("ids"), F.collect_list("v").alias("vs"))
    )
    combos = packed.select(
        "table_idx",
        "bucket",
        F.col("chk").alias("chk_a"),
        F.col("ids").alias("ids_a"),
        F.col("vs").alias("vs_a"),
    ).join(
        packed.select(
            "table_idx",
            "bucket",
            F.col("chk").alias("chk_b"),
            F.col("ids").alias("ids_b"),
            F.col("vs").alias("vs_b"),
        ),
        ["table_idx", "bucket"],
    ).filter(F.col("chk_a") <= F.col("chk_b"))

    from cdc_stream_processor_spark.functions.fasthash import (
        fast_cosine_gram_candidates,
    )

    def score_bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                A = np.vstack([np.asarray(x) for x in row["vs_a"]])
                Bm = np.vstack([np.asarray(x) for x in row["vs_b"]])
                ai, bi, sim = fast_cosine_gram_candidates(
                    A, Bm, threshold - 1e-6
                )
                ia, ib = ids_a[ai], ids_b[bi]
                # same-chunk combos see each unordered pair twice: keep a<b
                # (also drops the self-pair diagonal); cross-chunk see once.
                if row["chk_a"] == row["chk_b"]:
                    keep = ia < ib
                    ia, ib, sim = ia[keep], ib[keep], sim[keep]
                yield pd.DataFrame(
                    {
                        "vec_a": np.minimum(ia, ib),
                        "vec_b": np.maximum(ia, ib),
                        "raw_sim": sim,
                    }
                )

    scored = combos.mapInPandas(
        score_bucket, schema="vec_a long, vec_b long, raw_sim double"
    )
    return (
        # the same pair surfaces from every colliding table with bit-identical
        # raw_sim (same kernel, same full vectors), so dedup-then-round is safe
        scored.dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cosine_sim", F.round(F.col("raw_sim"), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", "cosine_sim")
    )


def embedding_near_dup(
    vecs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate dedup by embedding cosine: keep a vector iff it has no
    near-duplicate (cosine ≥ threshold) with a smaller id — the standard
    keep-first representative rule (one pass, no iterative connected
    components). Returns the kept rows (id only, schema-stable).

    ``method="lsh"`` (requires ``dim``) generates the pair list via the
    sub-quadratic SRP-LSH candidate join instead of the exact blocked
    all-pairs product — the 100 TB path (analytic miss < 1e-7 at the
    default parameterization; equality with exact asserted in tests)."""
    if method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim")
        pairs = lsh_near_dup_pairs(vecs, threshold, dim, id_col, vec_col)
    else:
        pairs = cosine_pairs(vecs, threshold, id_col, vec_col)
    drops = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    return vecs.select(id_col).join(drops, id_col, "left_anti")


# --- sign-random-projection LSH (multi-table, Indyk-Motwani style) -----------

N_PLANES = 4  # bits per table (few: test-corpus neighbors sit at cosine ~0.3)
N_TABLES = 16  # OR-amplification: candidate if ANY table bucket collides


def _plane_weight(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-0.5, 0.5): LCG on
    (table, plane, dim). No RNG object — reproducible across runs.

    NOTE: a single-step LCG keeps weights affine in the dimension index, so
    hyperplanes across tables are correlated — fine for the oracle-mirrored
    ANN top-k (where the SQL replays the identical arithmetic and recall is
    pinned empirically), NOT good enough when an analytic independence-based
    miss bound must hold; use :func:`_plane_weight_mixed` there."""
    x = (1103515245 * ((table * 64 + plane) * 8192 + dim) + 12345) % 2147483648
    return x / 2147483648.0 - 0.5


_M64 = (1 << 64) - 1


def _plane_weight_mixed(table: int, plane: int, dim: int) -> float:
    """Well-mixed deterministic weight in [-0.5, 0.5): splitmix64 finalizer
    over the packed (table, plane, dim) index. Unlike the affine LCG, bit
    avalanche makes hyperplanes effectively independent across tables, so
    the (1-p)^L analytic miss bound of the OR-amplified LSH actually holds
    — required by lsh_near_dup_pairs' no-miss-at-threshold contract."""
    z = ((table << 40) ^ (plane << 32) ^ dim) & _M64
    z = (z + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    z = z ^ (z >> 31)
    return z / 2.0**64 - 0.5


def _bucket_udf(dim: int, n_planes: int, n_tables: int, weight_fn=_plane_weight):
    """Vectorized bucket computation against the (tables × planes × dim)
    hyperplane tensor per Arrow batch. Projections are accumulated
    DIMENSION-BY-DIMENSION in float64 — the same left-to-right order as a
    list_reduce fold — so bucket ids are bit-identical to the DuckDB oracle's
    fold form (pairwise/BLAS summation could flip the sign of a near-zero
    projection). ~100× faster than per-plane Catalyst folds."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    w = np.array(
        [
            [[weight_fn(t, p, d) for d in range(dim)] for p in range(n_planes)]
            for t in range(n_tables)
        ]
    )  # (L, m, dim)
    powers = (1 << np.arange(n_planes)).astype(np.int64)  # (m,)

    wt = w.reshape(-1, dim).T  # (dim, L·m) for one matmul

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # (n, dim)
        proj = (mat @ wt).reshape(len(mat), n_tables, n_planes)
        # Only the SIGN of each projection matters. BLAS summation differs
        # from the left-to-right fold by ≲1e-13, so re-fold sequentially
        # just the near-zero projections — keeps bucket ids bit-identical
        # to the DuckDB oracle's fold replay at matmul speed.
        ni, ti, pi = np.nonzero(np.abs(proj) < 1e-10)
        for a, t, p in zip(ni, ti, pi):
            acc = 0.0
            row, ww = mat[a], w[t, p]
            for d in range(dim):
                acc += row[d] * ww[d]
            proj[a, t, p] = acc
        bits = (proj > 0).astype(np.int64)
        out = bits @ powers  # (n, L)
        return pd.Series(list(out))

    return buckets


def _with_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    weight_fn=_plane_weight,
) -> DataFrame:
    """Explode each vector into (table_idx, bucket) rows — the equi-join key.
    Explode factor L is the classic LSH space/recall tradeoff."""
    buckets = _bucket_udf(dim, n_planes, n_tables, weight_fn)(F.col("_v"))
    return df.select(
        "*", F.posexplode(buckets).alias("table_idx", "bucket")
    )


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for multi-probe LSH: all bucket perturbations within
    Hamming distance `probe_hamming` of the query's bucket (Lv et al. '07,
    "Multi-Probe LSH"). probe_hamming=0 → [0] (exact bucket only)."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates collide with one of the query's probed
    buckets in ≥1 of n_tables LSH tables; exact cosine re-rank on the
    candidate set. All-equi-join on (table, bucket) → shuffle-scalable;
    recall grows as 1-(1-p_probe)^L with table count, and multi-probe
    (query-side bucket perturbation, corpus side untouched) trades a small
    fan-out of skinny probe rows for the recall more tables would cost."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cv = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    # Candidate generation on skinny (id, table, bucket) rows — the vectors do
    # NOT ride through the L-way explode join — then dedup BEFORE scoring so a
    # pair colliding in many of the L tables is scored exactly once.
    q = _with_buckets(
        qv.select("query_id", F.col("qv").alias("_v")), dim, n_planes, n_tables
    ).select("query_id", "table_idx", "bucket")
    masks = probe_masks(n_planes, probe_hamming)
    if len(masks) > 1:
        # probe buckets = query bucket XOR each mask (skinny row fan-out)
        q = q.select(
            "query_id",
            "table_idx",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    c = _with_buckets(
        cv.select("neighbor_id", F.col("cv").alias("_v")), dim, n_planes, n_tables
    ).select("neighbor_id", "table_idx", "bucket")
    cand = (
        q.join(c, ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = _cosine_pandas_udf()
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


# --- IVF (inverted-file) ANN --------------------------------------------------

IVF_NLIST = 16  # coarse centroids
# Probed cells per query. 8/16 is high because the synthetic test corpus is
# near-uniform on the sphere — true neighbors sit at low cosine, spread
# across cells, so recall ∝ fraction probed (measured: 0.56 @ nprobe=4,
# 0.80-0.86 @ nprobe=8; pinned in tests). On clustered real embeddings the
# standard nprobe ≈ nlist/16 regains the 10-100× scan saving.
IVF_NPROBE = 8
IVF_TRAIN_LIMIT = 4096  # driver-side training sample bound (rows)


def _seq_sq_norms(mat):
    """Per-row Σx² accumulated dimension-by-dimension (fold order)."""
    import numpy as np

    acc = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return acc


def _seq_dots_to(mat, cents):
    """(n, nlist) dot products accumulated dimension-by-dimension — the same
    left-to-right order as a list_reduce fold, so values (and therefore
    argmax cell choices) are bit-identical to the DuckDB oracle."""
    import numpy as np

    out = np.zeros((len(mat), len(cents)))
    for d in range(mat.shape[1]):
        out += mat[:, d, None] * cents[None, :, d]
    return out


def _seq_normalize(mat):
    """Row-normalize with the 1e-12 floor; norms use the sequential fold."""
    import numpy as np

    return mat / np.maximum(np.sqrt(_seq_sq_norms(mat)), 1e-12)[:, None]


def _spherical_kmeans(sample, nlist: int, iters: int = 10):
    """Deterministic spherical k-means on an L2-normalized sample matrix:
    init = first nlist rows (sample arrives sorted by id), assign by max
    dot (first max wins ties), centroid = renormalized mean. No RNG, and
    every float accumulation is sequential (fold-order) — reproducible
    across runs AND bit-identical to the unrolled DuckDB oracle."""
    import numpy as np

    cents = sample[:nlist].copy()
    for _ in range(iters):
        assign = _seq_dots_to(sample, cents).argmax(axis=1)
        for j in range(nlist):
            members = sample[assign == j]
            if len(members):
                # mean accumulated member-by-member in sample (id) order
                s = np.zeros(sample.shape[1])
                for row in members:
                    s += row
                m = s / len(members)
                n = np.sqrt(_seq_sq_norms(m[None, :])[0])
                if n > 0:
                    cents[j] = m / n
    return cents


@memoized
def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into nlist spherical-k-means
    cells, probe the nprobe nearest cells per query, exact cosine re-rank
    inside the probed cells.

    Scale shape (the point of IVF over brute force): training touches only a
    bounded driver-side sample (IVF_TRAIN_LIMIT rows — first rows by id, a
    deterministic stand-in for reservoir sampling); cell assignment is one
    Arrow-batched matmul map over the corpus (no shuffle); the probe is an
    equi-join on cell id, so only ~nprobe/nlist of the corpus is scored per
    query. Approximate — recall vs brute force is asserted in tests.

    Memoized: the probed neighbor table is the shared sub-result of
    `ivf_ann_topk` (which returns it) and `ivf_recall_eval` (which scores
    it against brute force) on the identical query set; a hit also skips
    re-collecting the driver-side training sample (r12 optimization)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    sample_rows = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(IVF_TRAIN_LIMIT)
        .collect()
    )
    sample = _seq_normalize(np.array([r["v"] for r in sample_rows], dtype=np.float64))
    cents = _spherical_kmeans(sample, min(nlist, len(sample)))

    @pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        mat = _seq_normalize(np.vstack(vs.to_numpy()).astype(np.float64))
        return pd.Series(_seq_dots_to(mat, cents).argmax(axis=1).astype("int32"))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = _seq_normalize(np.vstack(vs.to_numpy()).astype(np.float64))
        order = np.argsort(-_seq_dots_to(mat, cents), axis=1, kind="stable")
        return pd.Series(list(order[:, :nprobe].astype("int32")))

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    c = c.withColumn("cell", cell_of(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    q = q.select(
        "query_id", "qv", F.explode(probe_cells(F.col("qv"))).alias("cell")
    )
    cos = _cosine_pandas_udf()
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


CENTROID_SCALE = 1_000_000  # 1e-6 component grid: exact integer sums


def embedding_centroids(
    vecs: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding (class centroids) with engine-exact
    arithmetic: components snap to a 1e-6 grid via trunc-toward-zero
    (CAST(x·1e6 AS LONG) in Spark = trunc() in DuckDB), per-(group, dim)
    BIGINT sums — order-independent and overflow-free — and the mean is a
    single correctly-rounded double division.

    Plan shape: posexplode to (group, dim, component) rows, ONE partial-agg
    shuffle on (group, dim) — the fact table never collects — then a
    per-group sorted reassembly whose input is only n_groups·dim rows.
    """
    exploded = vecs.select(
        F.col(group_col).alias("grp"),
        F.posexplode(vec_col).alias("d", "x"),
    )
    per_dim = exploded.select(
        "grp",
        "d",
        (F.col("x").cast("double") * CENTROID_SCALE).cast("long").alias("xi"),
    ).groupBy("grp", "d").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("grp")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sort_array(F.collect_list(F.struct("d", "s"))).alias("sv"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_vecs",
            F.transform(
                "sv",
                lambda t: t.getField("s").cast("double")
                / (F.col("n_vecs") * CENTROID_SCALE).cast("double"),
            ).alias("centroid"),
        )
    )


def centroid_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment: every vector gets the centroid label
    maximizing cosine (ties → smallest label). The centroid table is tiny
    (n_labels rows) and broadcasts, so assignment is a MAP-ONLY pass over
    the corpus — the same shape as IVF cell assignment, reused here as the
    classification / drift-detection primitive. max_by on an exact
    (cosine, -label) ordering struct keeps the reduction associative (no
    window, no shuffle beyond the corpus's own partitioning)."""
    v = vecs.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    c = centroids.select(
        F.col(label_col).alias("_cl"), as_double(F.col(centroid_col)).alias("cv")
    )
    # Arrow kernel, not the interpreted HOF fold: BLAS cosine with
    # sequential re-fold of rounding-boundary rows (same bit-parity
    # contract as brute_force_topk); the 6-dp round stays JVM-side
    cos = _cosine_pandas_udf()
    scored = v.join(F.broadcast(c)).select(
        id_col,
        "_cl",
        F.round(cos(F.col("v"), F.col("cv")), 6).alias("sim"),
    )
    pick = F.max_by(
        F.struct(F.col("_cl").alias("l"), F.col("sim").alias("s")),
        F.struct(F.col("sim").alias("s"), (-F.col("_cl")).alias("nl")),
    )
    return (
        scored.groupBy(id_col)
        .agg(pick.alias("_p"))
        .select(
            id_col,
            F.col("_p.l").alias("assigned_label"),
            F.col("_p.s").alias("sim"),
        )
    )


@memoized
def knn_graph(
    vecs: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
) -> DataFrame:
    """Exact cosine k-nearest-neighbor graph over the WHOLE corpus —
    (vec_id, neighbor_id, cosine_sim, rank) with k rows per vector — the
    neighbor structure behind semantic dedup clustering, diversity
    sampling, and label propagation.

    Unlike brute_force_topk (broadcast query set × corpus — right when the
    query set is small), every vector is a query here, so the corpus can
    never ride a broadcast. Same block-matrix shape as cosine_pairs:
    B ≈ ⌈n/block_size⌉ packed blocks, B(B+1)/2 unordered combos, one
    normalized float64 matmul per combo. Per combo only each row's local
    top-k (plus raw scores within 2e-6 — the rounding-tie capture zone) and
    each column's local top-k leave the task, so the global shuffle carries
    O(n·B·k) skinny rows, never the n² Gram. A final row_number() window
    per vec_id — WindowGroupLimit prunes to k per partition before the
    sort — yields the exact graph: the true top-k always survives local
    pruning because a global winner is a fortiori a within-combo winner.

    6-dp fold parity: near-boundary Gram entries are re-accumulated with
    the sequential fold (fasthash), so ROUND(·, 6) and hence the
    (cosine_sim DESC, neighbor_id ASC) ranking is bit-identical to the
    DuckDB list_reduce oracle.

    Memoized: the graph is the shared sub-result of `knn_graph`,
    `knn_pagerank` and `knn_triangles` on the same corpus."""
    import numpy as np

    from cdc_stream_processor_spark.functions.fasthash import (
        fast_cosine_gram_topk_candidates,
    )

    n = vecs.count()
    n_blocks = max(1, -(-n // block_size))
    v = vecs.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    blocks = (
        v.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("v").alias("vs"),
        )
        .persist()
    )
    combos = blocks.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("vs").alias("vs_a"),
    ).join(
        blocks.select(
            F.col("blk").alias("blk_b"),
            F.col("ids").alias("ids_b"),
            F.col("vs").alias("vs_b"),
        ),
        F.col("blk_a") <= F.col("blk_b"),
        "inner",
    )

    def score_combo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                A = np.vstack([np.asarray(x) for x in row["vs_a"]])
                Bm = np.vstack([np.asarray(x) for x in row["vs_b"]])
                same = row["blk_a"] == row["blk_b"]
                ai, bi, sim = fast_cosine_gram_topk_candidates(A, Bm, k, same)
                out = {
                    "query_id": ids_a[ai],
                    "neighbor_id": ids_b[bi],
                    "raw_sim": sim,
                }
                if same:
                    yield pd.DataFrame(out)
                else:
                    # candidates serve both directed sides of the combo
                    yield pd.DataFrame(out)
                    yield pd.DataFrame(
                        {
                            "query_id": ids_b[bi],
                            "neighbor_id": ids_a[ai],
                            "raw_sim": sim,
                        }
                    )

    scored = combos.mapInPandas(
        score_combo, schema="query_id long, neighbor_id long, raw_sim double"
    ).withColumn("cosine_sim", F.round(F.col("raw_sim"), 6))
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return out.select(
        F.col("query_id").alias("vec_id"), "neighbor_id", "cosine_sim", "rank"
    )


# Fixed-point grid for the Gram/covariance surface: components snap to
# 1e-4 (CAST(ROUND(x·1e4) AS LONG) — HALF_UP in Spark = round-half-away in
# DuckDB, the same pairing the money columns rely on), so every pairwise
# product is an exact int64 ≤ ~6.4e9 and sums are order-independent.
GRAM_SCALE = 10_000


def embedding_gram(
    vecs: DataFrame,
    vec_col: str = "embedding",
    block_rows: int = 65_536,
) -> DataFrame:
    """Distributed Gram / second-moment matrix Σₙ eᵢ·eⱼ over the corpus —
    the d×d statistic behind PCA whitening, covariance drift monitors, and
    low-rank projection — computed WITHOUT collecting the corpus:
    every partition contributes one d×d int64 partial via a single
    quantized matmul (XᵀX over ≤ block_rows rows at a time), partials
    groupBy-sum on (i, j) — shuffle volume is partitions·d², independent
    of corpus size — and only the final d(d+1)/2 upper-triangle rows reach
    the caller.

    Exactness: components are snapped to the 1e-4 grid first, so partial
    products and sums are integer arithmetic — order-independent, and
    bit-identical to the DuckDB oracle's per-pair SUM. gram_q is the raw
    fixed-point sum in 1e-8 units (divide by GRAM_SCALE² for the float
    Gram); int64 holds corpora to ~1e9 rows of unit-scale vectors — beyond
    that, sum the partials in DECIMAL(38,0).
    """
    import numpy as np

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: np.ndarray | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            for s in range(0, X.shape[0], block_rows):
                Q = np.rint(X[s : s + block_rows] * GRAM_SCALE).astype(np.int64)
                part = Q.T @ Q  # exact: |q| ≤ ~8e4 → products ≤ 6.4e9
                acc = part if acc is None else acc + part
        if acc is not None:
            d = acc.shape[0]
            ii, jj = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": ii.astype(np.int32), "j": jj.astype(np.int32),
                 "part": acc[ii, jj]}
            )

    partials = vecs.select(vec_col).mapInPandas(
        partial_gram, schema="i int, j int, part long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("part").alias("gram_q"))
        .select("i", "j", "gram_q")
    )


def pca_project(
    vecs: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto the top principal directions of the
    second-moment matrix: the d×d Gram comes from embedding_gram (bounded
    driver materialization — d², never n), eigendecomposition runs on the
    driver (LAPACK on a 64×64 symmetric matrix), and the projection is a
    broadcast map-only matmul over the corpus. Component sign is fixed by
    making each eigenvector's largest-|·| entry positive, removing the
    LAPACK sign ambiguity; validated by reconstruction/orthogonality
    properties in tests (eigensolves are not SQL-expressible, so this
    operator is pytest-verified rather than oracle-checked)."""
    import numpy as np

    gram_rows = embedding_gram(vecs, vec_col=vec_col).collect()  # d² rows
    d = max(r["j"] for r in gram_rows) + 1
    G = np.zeros((d, d))
    for r in gram_rows:
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = r["gram_q"] / (
            float(GRAM_SCALE) ** 2
        )
    w, V = np.linalg.eigh(G)
    order = np.argsort(w)[::-1][:n_components]
    comps = V[:, order]  # [d, n_components]
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), range(comps.shape[1])])
    flip[flip == 0] = 1.0
    comps = comps * flip
    comps_rows = [[float(x) for x in comps[:, c]] for c in range(comps.shape[1])]

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        W = np.asarray(comps_rows).T  # [d, k]
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            P = X @ W
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "components": list(P)}
            )

    return vecs.select(id_col, vec_col).mapInPandas(
        project, schema=f"{id_col} long, components array<double>"
    )


DIVERSITY_PER_CLUSTER = 10


def diversity_sample(
    vecs: DataFrame,
    centroids: DataFrame,
    per_cluster: int = DIVERSITY_PER_CLUSTER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-stratified diversity sampling: assign every vector to its
    nearest centroid (broadcast map-only pass), then keep ``per_cluster``
    vectors per cluster by a deterministic LCG draw — the standard
    embedding-space coverage sampler (every region of the space is
    represented; a uniform draw oversamples dense regions). Greedy
    max-min diversity is inherently sequential; per-cluster stratification
    is its distributable surrogate.

    One WindowGroupLimit shuffle on the (small-cardinality) cluster key
    after the map-only assignment. Deterministic across engines and
    partitionings — the draw key is the id LCG, not an RNG.
    """
    from cdc_stream_processor_spark.operators.corpus import split_key
    from cdc_stream_processor_spark.operators.relational import top_k_per_group

    assigned = centroid_assign(vecs, centroids, id_col=id_col, vec_col=vec_col)
    ranked = top_k_per_group(
        assigned.withColumn("draw_key", split_key(F.col(id_col))),
        ["assigned_label"],
        [F.col("draw_key").asc(), F.col(id_col).asc()],
        per_cluster,
        rank_col="draw_rank",
    )
    return ranked.select(
        id_col, "assigned_label", "sim", "draw_rank"
    )


# --- SemDeDup: cluster-scoped semantic dedup ----------------------------------

SEMDEDUP_TAU = 0.35


def semdedup(
    vecs: DataFrame,
    threshold: float = SEMDEDUP_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    block_size: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. '23): semantic deduplication scoped to
    embedding clusters — assign every vector to its nearest class centroid,
    find cosine-near-duplicate pairs ONLY within each cluster, group them
    into components, and keep one representative (min vec_id) per
    component.

    This is the step that makes semantic dedup tractable at corpus scale:
    exact near-dup search is O(n²), but scoping it to k clusters costs
    O(Σ n_c²) ≈ O(n²/k) — the paper's observation that semantic duplicates
    co-locate in embedding space, so cross-cluster pairs need not be
    scored.  The price is a principled miss class (near-dups straddling a
    cluster boundary), inherent to the method.

    Stages, all distributed: centroid build (one (label, dim) partial-agg
    shuffle), broadcast map-only assignment, the blocked pair kernel
    per-cluster (`cosine_pairs(part_col=...)`, per-cluster block counts),
    and min-label connected components over the (tiny) pair table.
    Returns one row per vector: (vec_id, cluster, rep_id, kept) — `kept`
    marks the component representative and every unpaired vector.
    """
    from cdc_stream_processor_spark.operators.dedup import connected_components

    cents = embedding_centroids(vecs, group_col=label_col, vec_col=vec_col)
    assign = centroid_assign(
        vecs, cents, id_col=id_col, vec_col=vec_col, label_col=label_col
    )
    # clustered feeds BOTH the pair kernel and the final output join;
    # persisting it avoids re-planning + re-running the centroid-assign
    # subtree (measured ~1.5 s of semdedup's fixed cost at sf0.1)
    clustered = (
        vecs.select(id_col, vec_col)
        .join(assign.select(id_col, "assigned_label"), id_col)
        .persist()
    )
    pairs = cosine_pairs(
        clustered,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_size=block_size,
        part_col="assigned_label",
    )
    cc = connected_components(pairs, a_col="vec_a", b_col="vec_b")
    return (
        clustered.select(
            F.col(id_col).alias("vec_id"),
            F.col("assigned_label").alias("cluster"),
        )
        .join(cc.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("rep", F.col("vec_id")).alias("rep_id"),
            (F.coalesce("rep", F.col("vec_id")) == F.col("vec_id")).alias(
                "kept"
            ),
        )
    )


# --- distributed Lloyd k-means (fixed rounds, engine-exact) -------------------

KMEANS_K = 8
KMEANS_ITERS = 4


def _kmeans_assign(v: DataFrame, cents: list) -> DataFrame:
    """Nearest centroid by squared L2, entirely MAP-SIDE: the centroids
    are a bounded k·d driver sketch carried in the UDF closure (the MLlib
    Lloyd pattern), so assignment is one vectorized Arrow pass over the
    corpus — no join, no shuffle, no per-round lineage growth.

    Bit-parity with the DuckDB oracle's sequential folds: the distance
    accumulates dimension-by-dimension (``dist += diff·diff`` — each
    vectorized += is one correctly-rounded IEEE op per row, in the same
    j = 0..d−1 order as the fold), and clusters are scanned in ASCENDING
    id order replacing only on strictly-smaller distance, so ties break
    to the smallest cluster id — the same total order min_by(struct(d,c))
    produced."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    items = sorted((int(c), np.asarray(cv, dtype=np.float64)) for c, cv in cents)

    def _assign(s: "pd.Series") -> "pd.DataFrame":
        X = np.vstack(s.to_numpy())
        n = len(X)
        best_c = np.full(n, -1, dtype=np.int64)
        best_d = np.full(n, np.inf, dtype=np.float64)
        for cid, cv in items:
            dist = np.zeros(n, dtype=np.float64)
            for j in range(cv.shape[0]):
                diff = X[:, j] - cv[j]
                dist += diff * diff
            upd = dist < best_d
            best_c[upd] = cid
            best_d[upd] = dist[upd]
        return pd.DataFrame({"cluster": best_c, "d": best_d})

    assign_udf = pandas_udf(_assign, "cluster: long, d: double")
    return v.withColumn("_p", assign_udf(F.col("v"))).select(
        "vec_id",
        "v",
        F.col("_p.cluster").alias("cluster"),
        F.col("_p.d").alias("d"),
    )


def _kmeans_rebuild(assigned: DataFrame) -> DataFrame:
    """Cluster means on the 1e-6 integer grid (same arithmetic as
    embedding_centroids): per-(cluster, dim) BIGINT sums — order-free —
    then one correctly-rounded double division per component."""
    per_dim = assigned.select(
        "cluster", F.posexplode("v").alias("dim", "x")
    ).select(
        "cluster",
        "dim",
        (F.col("x") * CENTROID_SCALE).cast("long").alias("xi"),
    ).groupBy("cluster", "dim").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("cluster")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sort_array(F.collect_list(F.struct("dim", "s"))).alias("sv"),
        )
        .select(
            "cluster",
            F.transform(
                "sv",
                lambda t: t.getField("s").cast("double")
                / (F.col("n_vecs") * CENTROID_SCALE).cast("double"),
            ).alias("cv"),
        )
    )


def kmeans_labels(
    vecs: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fully-distributed Lloyd k-means over the embedding column, run for a
    FIXED number of rounds with engine-exact arithmetic — the unsupervised
    clustering primitive (topic discovery, SemDeDup clustering when no
    labels exist, IVF coarse quantizer training at full-corpus scale; cf.
    the bounded driver-SAMPLE spherical k-means inside ivf_topk — this is
    its no-sample, all-data sibling).

    Determinism: seeds are the k lowest-id vectors; squared-L2 distances
    accumulate dimension-sequentially (identical order both engines);
    cluster means snap to the 1e-6 integer grid via BIGINT sums
    (order-free); argmin ties break to the smallest cluster id. A cluster
    that loses all members simply stops existing — both engines drop it
    identically. Every round is therefore bit-reproducible, and the
    DuckDB oracle replays all rounds as chained CTEs.

    Scale: per round, assignment is a vectorized Arrow MAP-ONLY pass (the
    centroids are a bounded k·d driver sketch in the UDF closure — the
    MLlib Lloyd shape); the rebuild is one (cluster, dim) partial-agg
    shuffle of skinny integer rows whose k·d-row result is the only thing
    collected. The corpus itself never collects, and per-round lineage
    stays flat because each round starts from the persisted corpus plus a
    fresh sketch.

    Returns the final assignment: (vec_id, cluster, sq_dist).
    """
    v = vecs.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).persist()  # scanned once per rebuild round + the final assignment
    seeds = v.orderBy("vec_id").limit(k).collect()  # k·d bounded
    cents = [(i, r["v"]) for i, r in enumerate(seeds)]
    for _ in range(iters - 1):
        rebuilt = _kmeans_rebuild(_kmeans_assign(v, cents)).collect()
        cents = [(r["cluster"], r["cv"]) for r in rebuilt]  # k·d bounded
    return _kmeans_assign(v, cents).select(
        "vec_id", "cluster", F.round("d", 6).alias("sq_dist")
    )


# --- Johnson-Lindenstrauss random projection ----------------------------------

RP_DIMS = 16
RP_A = 1_103_515_245
RP_B = 12_345
RP_P = 2_147_483_647


def rp_sign(i: Column, j: Column) -> Column:
    """Deterministic ±1 from an LCG over the (input dim, output dim) pair —
    the same no-RNG-state scheme as the SRP-LSH hyperplanes, replayable in
    SQL as integer arithmetic."""
    h = (
        (i.cast("long") * F.lit(RP_DIMS).cast("long") + j.cast("long"))
        * F.lit(RP_A).cast("long")
        + F.lit(RP_B).cast("long")
    ) % F.lit(RP_P).cast("long")
    return F.when(h % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))


def rp_project(
    vecs: DataFrame,
    out_dims: int = RP_DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only Johnson–Lindenstrauss projection with a deterministic ±1
    (Achlioptas '03) matrix: y_j = Σ_i x_i·s(i,j) / √r.  The cheap
    dimensionality-reduction stage before ANN indexing or pairwise scans —
    at 100 TB, projecting 1024-dim float vectors to 16 dims cuts every
    downstream shuffle and Gram kernel by 64× while preserving pairwise
    distances to the JL distortion bound.

    Pure JVM column expressions: for each output dim, a SEQUENTIAL fold
    over the input dims in index order (bit-identical to the DuckDB
    list_reduce replay); the sign matrix is an LCG of (i, j), never stored.
    No shuffle, no Python, streamable as-is.  out_dims defaults to 16 so
    the √r scaling (÷4.0) is exact in both engines.

    Scope note (measured): JL is a DISTANCE-preserving sketch, not a
    ranking-preserving one — on this synthetic corpus, whose pairwise
    similarities are near-uniform (spread ≈ the JL noise even at r=48),
    candidate generation in projected space recalls < 0.3 of the true
    top-5, so the engine does NOT register a JL-ANN path; SRP-LSH
    (bucketing) and IVF (coarse quantization) remain the ANN families.
    Use rp_project where its actual contract helps: norm/distance
    estimation, sketch columns, and pre-reduction ahead of clustering.
    """
    v = vecs.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    scale = float(out_dims) ** 0.5

    def one_dim(j: Column) -> Column:
        fold = (
            F.aggregate(
                F.transform(
                    F.sequence(F.lit(1), F.size("v")),
                    lambda i: F.element_at(F.col("v"), i)
                    * rp_sign(i - 1, j),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(scale)
        )
        # empty-vector guard: sequence(1, 0) REVERSES into [1, 0] (Spark's
        # default step is -1 for start > stop) and element_at would index
        # past the array — one empty embedding (failed upstream inference)
        # crashed the query under ANSI mode. The DuckDB twin's
        # generate_series is empty-safe and folds to 0.0; match it.
        # NULL-vector parity (probed in DuckDB, r11): the twin ALSO folds
        # a NULL embedding to 0.0, because list_prepend(0.0, NULL) yields
        # [0.0] — NOT NULL — so list_reduce returns the 0.0 seed. The
        # otherwise(0.0) below (which catches NULL v too, since
        # size(NULL) > 0 is NULL) is therefore exact engine parity for
        # BOTH degenerate shapes, pinned by test_rp_project_degenerate.
        return F.when(F.size("v") > 0, fold).otherwise(F.lit(0.0))
    return v.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(out_dims - 1)), one_dim
        ).alias("proj"),
    )



# --- product quantization (PQ codes) ------------------------------------------

PQ_M = 8  # subspaces
PQ_KSUB = 16  # centroids per subspace (4-bit codes)
PQ_ITERS = 3


def _pq_assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-subspace nearest centroid — `_kmeans_assign` with the subspace
    id riding the join key (centroid table is m·ksub rows, broadcast)."""
    d = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = v.join(F.broadcast(cents), "sub").select(
        "vec_id", "sub", "v", "cluster", d.alias("d")
    )
    pick = F.min_by(
        F.struct(F.col("cluster").alias("c"), F.col("d").alias("d")),
        F.struct(F.col("d").alias("d"), F.col("cluster").alias("c")),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.first("v").alias("v"), pick.alias("_p"))
        .select(
            "vec_id",
            "sub",
            "v",
            F.col("_p.c").alias("cluster"),
            F.col("_p.d").alias("d"),
        )
    )


def _pq_rebuild(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, cluster) means on the 1e-6 integer grid — the
    `_kmeans_rebuild` arithmetic keyed by subspace."""
    per_dim = (
        assigned.select(
            "sub", "cluster", F.posexplode("v").alias("dim", "x")
        )
        .select(
            "sub",
            "cluster",
            "dim",
            (F.col("x") * CENTROID_SCALE).cast("long").alias("xi"),
        )
        .groupBy("sub", "cluster", "dim")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        per_dim.groupBy("sub", "cluster")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sort_array(F.collect_list(F.struct("dim", "s"))).alias("sv"),
        )
        .select(
            "sub",
            "cluster",
            F.transform(
                "sv",
                lambda t: t.getField("s").cast("double")
                / (F.col("n_vecs") * CENTROID_SCALE).cast("double"),
            ).alias("cv"),
        )
    )


def _pq_subvectors(
    vecs: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, sub, v): the m-way subspace split (fixed m× fan-out of
    d/m-length rows — same total bytes as the input)."""
    v0 = vecs.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("fv")
    )
    return v0.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "fv",
    ).select(
        "vec_id",
        "sub",
        F.expr(
            f"slice(fv, sub * (size(fv) div {m}) + 1,"
            f" size(fv) div {m})"
        ).alias("v"),
    )


@memoized
def _pq_train(
    vecs: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ trainer: returns (final assignment (vec_id, sub, v,
    cluster, d), the centroid table the final assignment was scored
    against (sub, cluster, cv)).

    Memoized: `pq_codes` and `pq_adc_topk` train IDENTICAL codebooks on
    the identical corpus (seeded init, grid-snapped means)."""
    from pyspark.sql.window import Window

    v = _pq_subvectors(vecs, m, id_col, vec_col)
    w = Window.partitionBy("sub").orderBy("vec_id")
    cents = (
        v.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ksub)
        .select(
            "sub",
            (F.col("rn") - 1).cast("long").alias("cluster"),
            F.col("v").alias("cv"),
        )
    )
    assigned = _pq_assign(v, cents)
    for _ in range(iters - 1):
        cents = _pq_rebuild(assigned)
        assigned = _pq_assign(v, cents)
    return assigned, cents


def pq_codes(
    vecs: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. '11): split each d-dim vector
    into m subvectors, Lloyd-cluster each subspace to ksub centroids, and
    emit each vector's m-byte code word + exact reconstruction error —
    the memory-compression stage under IVF-PQ ANN indexes (m·log2(ksub)
    bits per vector instead of d·64).

    Determinism (inherited verbatim from `kmeans_labels`): subspace seeds
    are the ksub lowest-id subvectors, distances fold sequentially, means
    snap to the 1e-6 integer grid, ties break to the smallest cluster,
    and the per-vector error folds the m subspace distances IN SUBSPACE
    ORDER — so the DuckDB oracle replays every round bit-for-bit.

    Scale: the subspace explode is a fixed m× fan-out of d/m-length rows
    (same bytes as the input); per round, assignment is one broadcast
    (m·ksub·d/m = ksub·d doubles) map-only pass + an associative min_by,
    and the rebuild is one (sub, cluster, dim) partial-agg shuffle of
    skinny integers.  Nothing collects; codes stay distributed.

    Returns (vec_id, codes array<long> length m, recon_err double).
    """
    assigned, _ = _pq_train(vecs, m, ksub, iters, id_col, vec_col)
    err = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "d"))),
            lambda t: t.getField("d"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "cluster"))),
                lambda t: t.getField("cluster"),
            ).alias("codes"),
            F.round(err, 6).alias("recon_err"),
        )
        .select("vec_id", "codes", "recon_err")
    )


PQ_ADC_K = 5
PQ_QUERY_MOD = 50  # every 50th vector queries, matching the other ANN ops


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = PQ_ADC_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search with Asymmetric Distance Computation (Jégou '11): exact
    query subvectors score against the corpus's QUANTIZED codes.  Per
    query, an m×ksub lookup table of subspace distances to every centroid
    (broadcast — the codebook is ksub·d doubles total); each corpus
    vector's approximate distance is then Σ_sub LUT[sub, code_sub], a
    CODE-level join that never touches the corpus floats again — the
    memory story that makes billion-vector ANN fit.

    Determinism: LUT entries are sequential (q−c)² folds; the per-vector
    sum folds the m terms IN SUBSPACE ORDER; ties rank by neighbor id —
    the DuckDB oracle replays training + LUT + fold bit-for-bit.

    Scale: one PQ training pass (bounded shuffles); LUT build is
    |Q|·m·ksub rows (queries broadcast against the tiny codebook); the
    scoring join is (corpus codes exploded: n·m skinny rows) ⋈ LUT on
    (query, sub, cluster) — the standard ADC cost, shuffle-bound by n·m·|Q|
    with no floats.  Returns (query_id, neighbor_id, approx_sq_dist, rank);
    self-matches excluded.  Approximate by construction — recall is
    asserted against brute force in tests, exactness against the oracle.

    Recall caveat (measured, pinned in tests): the synthetic corpus is
    near-uniform on the sphere — PQ's worst case (pairwise distances
    concentrate, so quantized distances can't discriminate): top-5 recall
    is 0.24–0.30 at (m=8, ksub=16), 0.52–0.64 at m=32.  On real clustered
    embeddings PQ recall is far higher; production use is candidate
    generation at k≈50–100 + exact re-rank (compose with
    brute_force_topk over the candidate set), not direct top-5.
    """
    assigned, cents = _pq_train(corpus, m, ksub, iters, id_col, vec_col)
    codes = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "sub", "cluster"
    )
    qs = _pq_subvectors(queries, m, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("v").alias("qv")
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = qs.join(F.broadcast(cents), "sub").select(
        "query_id", "sub", "cluster", dist.alias("ld")
    )
    # Subspace-ordered fold WITHOUT collect_list: each (query, neighbor)
    # group holds exactly one ld per sub (codes carry all m subs, the LUT
    # covers every (sub, cluster) per query), so pivoting into m SUM
    # columns and adding them left-to-right 0.0 + ld_0 + … + ld_{m-1}
    # replays the oracle's `list_reduce(list(ld ORDER BY sub))` op
    # sequence bit-for-bit (every ld ≥ +0.0, so the coalesce-0.0 identity
    # additions are IEEE no-ops). The partial-agg state shrinks from an
    # m-struct list to m doubles, and the per-group sort_array plus two
    # interpreted HOF lambdas disappear from the reduce side (r13, guide
    # §2.3 / §4.1).
    per_sub = [
        F.coalesce(
            F.sum(F.when(F.col("sub") == i, F.col("ld"))), F.lit(0.0)
        ).alias(f"_ld{i}")
        for i in range(m)
    ]
    fold = F.lit(0.0)
    for i in range(m):
        fold = fold + F.col(f"_ld{i}")
    scored = (
        codes.join(lut, ["sub", "cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(*per_sub)
        .select(
            "query_id",
            "neighbor_id",
            F.round(fold, 6).alias("approx_sq_dist"),
        )
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("approx_sq_dist").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "approx_sq_dist", "rank")


# --- MMR diversified re-rank ---------------------------------------------------

MMR_K = 5
MMR_POOL = 20
MMR_LAMBDA = 0.7


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = MMR_K,
    pool: int = MMR_POOL,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98): re-rank
    each query's exact top-`pool` candidates for diversity — greedy k
    rounds of argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).  The
    retrieval-diversification stage (diverse few-shot example selection,
    dedup'd RAG contexts).

    Determinism: rel and pairwise sims are the ROUNDED 6-dp cosines (the
    same fold the oracle states, both computed JVM-side); max over
    selected sims is an exact associative max; each round's score is a
    fixed 3-op float64 tree (λ·rel − (1−λ)·max_sim — single correctly-
    rounded IEEE ops, identical in Python and in the oracle's unrolled
    CTEs); ties rank by neighbor id.

    Scale: the only corpus-scale work is the candidate retrieval
    (brute_force_topk here; swap in any ANN candidate source) and the
    pairwise-sim join — both JVM-side.  The greedy k rounds run at
    pool-per-query scale (≤ pool cands + pool² sims per query), so they
    execute as ONE cogrouped-map Arrow kernel per query — no per-round
    distributed jobs; an earlier unrolled-DataFrame form paid a
    localCheckpoint job per round for the same ≤k·|Q| rows (3.6 s → ~1 s
    at sf0.1).  Returns (query_id, neighbor_id, mmr_rank, mmr_score).
    """
    import pandas as pd

    # candidate retrieval is the only corpus-scale subplan and is
    # referenced twice (pair build + cogroup) — localCheckpoint runs it
    # once and truncates the lineage (the result is ≤ |Q|·pool rows)
    cands = brute_force_topk(
        queries, corpus, k=pool, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    v = corpus.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_e")
    )
    cv = cands.join(v, cands["neighbor_id"] == v["_vid"]).select(
        "query_id", "neighbor_id", "_e"
    )
    c1 = cv.select(
        "query_id",
        F.col("neighbor_id").alias("a"),
        F.col("_e").alias("ea"),
    )
    c2 = cv.select(
        "query_id",
        F.col("neighbor_id").alias("b"),
        F.col("_e").alias("eb"),
    )
    # ≤ |Q|·pool² rows; the eager checkpoint also severs the shared
    # lineage with `cands` (cogrouping two plans rooted at the same
    # checkpoint trips the ambiguous-self-join analyzer check).
    # Pair sims go through the Arrow cosine kernel (bit-parity re-fold),
    # not the interpreted HOF fold.
    cos_k = _cosine_pandas_udf()
    pair = (
        c1.join(c2, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(cos_k(F.col("ea"), F.col("eb")), 6).alias("ps"),
        )
        .localCheckpoint()
    )

    qid_t = dict(cands.dtypes)["query_id"]
    nid_t = dict(cands.dtypes)["neighbor_id"]
    out_schema = (
        f"query_id {qid_t}, neighbor_id {nid_t}, "
        "mmr_rank int, mmr_score double"
    )
    inv = 1.0 - lam

    def kernel(
        key: tuple, cpdf: "pd.DataFrame", ppdf: "pd.DataFrame"
    ) -> "pd.DataFrame":
        if cpdf.empty:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score"]
            )
        rel = dict(zip(cpdf["neighbor_id"], cpdf["cosine_sim"]))
        first = cpdf.loc[cpdf["rank"] == 1, "neighbor_id"].iloc[0]
        ps: dict = {}
        for a, b, s in zip(ppdf["a"], ppdf["b"], ppdf["ps"]):
            ps[(a, b)] = float(s)
        selected = [first]
        scores = [float(rel[first])]
        remaining = sorted(n for n in rel if n != first)
        for _ in range(2, k + 1):
            best = None
            best_score = None
            for c in remaining:
                sims = [ps[(c, s)] for s in selected if (c, s) in ps]
                if not sims:
                    continue
                score = lam * float(rel[c]) - inv * max(sims)
                if best is None or score > best_score:
                    best, best_score = c, score
            if best is None:
                break
            selected.append(best)
            scores.append(best_score)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": [key[0]] * len(selected),
                "neighbor_id": selected,
                "mmr_rank": pd.Series(
                    range(1, len(selected) + 1), dtype="int32"
                ),
                "mmr_score": pd.Series(scores, dtype="float64"),
            }
        )

    out = (
        cands.groupBy("query_id")
        .cogroup(pair.groupBy("query_id"))
        .applyInPandas(kernel, schema=out_schema)
    )
    return out.orderBy("query_id", "mmr_rank")


def hard_negative_topk(
    vecs: DataFrame,
    k: int = 5,
    query_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k NEAREST neighbors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary, which is what a
    triplet/InfoNCE sampler wants (random negatives are mostly easy and
    carry no gradient signal).

    Same exact-cosine machinery as brute_force_topk (BLAS einsum with
    rounding-boundary re-fold, ROUND(·,6), ties on neighbor id), with the
    label-mismatch predicate applied BEFORE scoring so same-label pairs
    never enter the ranking. Queries = every query_stride-th id (the
    similarity family's standard query set).

    Scale shape: the query set broadcasts over the corpus (queries are a
    1/query_stride sample); per-group top-k is TakeOrdered-style heap
    pruning via WindowGroupLimit. For all-vectors-as-queries use the
    blocked knn_graph kernel and post-filter labels — this operator is
    the query-sample form.
    """
    from cdc_stream_processor_spark.operators.relational import (
        top_k_per_group,
    )

    q = vecs.filter(F.col(id_col) % query_stride == 0).select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("q_label"),
    )
    c = ensure_parallelism(vecs).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("n_label"),
    )
    cos = _cosine_pandas_udf()
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_label") != F.col("n_label"))
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            F.col("n_label").alias("neg_label"),
            F.round(cos(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select(
        "query_id", "q_label", "neighbor_id", "neg_label", "cosine_sim", "rank"
    )


def kcenter_centers(
    vecs: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact greedy k-center (Gonzalez 1985) in cosine space: seed with
    the smallest id, then k-1 times add the point FARTHEST from its
    nearest chosen center (= smallest max-cosine; ties on ascending id).
    The 2-approximation coreset/diverse-exemplar selector —
    ``diversity_sample``'s docstring names this sequential greedy as the
    thing its cluster stratification surrogates; this is the exact form
    for small k (each round is one distributed pass + a ONE-ROW argmin
    probe — k bounded driver rows total, the same bounded-scalar-probe
    class as the IVF centroid train sample).

    Per round: the running per-point max-cosine updates incrementally
    against only the newest center (greatest(prev, cos_new)) — one
    crossJoin with a broadcast 1-row center + Arrow cosine kernel; the
    accumulator localCheckpoints per round (linear lineage, no k^rounds
    blowup). Already-chosen ids are excluded from candidacy.

    Returns (rank, vec_id, sel_maxcos): sel_maxcos is the candidate's
    max-cosine to the prior centers at selection time (NULL for the
    seed); 1 - sel_maxcos is the coverage radius achieved so far.
    """
    spark = vecs.sparkSession
    pts = vecs.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    cos = _cosine_pandas_udf()
    seed = pts.orderBy("vec_id").limit(1).collect()[0]
    chosen: list[tuple[int, int, float | None]] = [(0, seed.vec_id, None)]
    last_vec = seed.v
    cur = pts.withColumn("maxc", F.lit(-2.0))
    for r in range(1, k):
        qv = F.array(*[F.lit(float(x)) for x in last_vec])
        # LAZY localCheckpoint (r13): the argmin probe's TakeOrdered scan
        # computes every partition anyway, and the lazy checkpoint saves
        # them as that one job runs — one pass per round where the old
        # eager=True form paid a dedicated materialization job and THEN
        # scanned the checkpoint again for the probe. (persist() was also
        # tried: the columnar cache conversion of the vector column cost
        # more than the saved pass — 2.1 → 2.6 s; the row-serialized
        # checkpoint keeps the saving.) Lineage still truncates per round.
        cur = cur.select(
            "vec_id",
            "v",
            F.greatest(
                F.col("maxc"), F.round(cos(F.col("v"), qv), 6)
            ).alias("maxc"),
        ).localCheckpoint(eager=False)
        cand = (
            cur.filter(~F.col("vec_id").isin([c[1] for c in chosen]))
            .orderBy(F.col("maxc").asc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not cand:
            break
        row = cand[0]
        chosen.append((r, row.vec_id, row.maxc))
        last_vec = row.v if hasattr(row, "v") else None
    return spark.createDataFrame(
        [(r, i, m) for r, i, m in chosen],
        "rank long, vec_id long, sel_maxcos double",
    )


EMB_GRID = CENTROID_SCALE  # health audit uses the same 1e-6 integer grid


def embedding_health_audit(
    vecs: DataFrame,
    expected_dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding data-quality audit — the vector-column member
    of the profiling family (profile_table audits scalars; this audits
    array<float> health before any index/training run): wrong
    dimensionality, zero vectors (cosine-undefined), non-finite
    components, and the norm² range on the exact 1e-6 integer grid
    (BIGINT sums — order-free, so min/max are engine-exact).

    Output: (label, n_vecs, n_null, n_wrong_dim, n_zero, n_nonfinite,
    min_norm2_scaled, max_norm2_scaled) where norm2_scaled =
    Σ trunc(x·1e6)² — an integer on the 1e-12 grid. A NULL vector (a
    whole missing embedding — what a failed embed job actually writes)
    counts ONLY under n_null: it is not wrong-dim, not zero, not
    non-finite, and its NULL norm² drops out of min/max — the r12
    --nulls fixture found the audit itself reporting NULL counters on
    the exact row class it exists to flag.

    Shape: map-only per-vector expressions + one partial-agged groupBy
    on the label; nothing corpus-global, no Python.
    """
    # try_cast: a NaN/Inf component would ANSI-overflow a plain long cast
    # and kill the very audit meant to FLAG it; with try_cast the grid
    # value is NULL, norm2 propagates NULL for that vector (min/max skip
    # it), and the vector is reported through n_nonfinite instead
    x = F.transform(
        F.col(vec_col),
        lambda v: (v.cast("double") * EMB_GRID).try_cast("long"),
    )
    norm2 = F.aggregate(
        x, F.lit(0).cast("long"), lambda acc, xi: acc + xi * xi
    )
    nonfinite = F.exists(
        F.col(vec_col),
        lambda v: F.isnan(v.cast("double"))
        | (v.cast("double") == float("inf"))
        | (v.cast("double") == float("-inf")),
    )
    is_null = F.col(vec_col).isNull()
    per_vec = vecs.select(
        F.col(label_col).alias("label"),
        is_null.cast("long").alias("null_vec"),
        F.when(
            ~is_null, (F.size(vec_col) != expected_dim).cast("long")
        ).otherwise(F.lit(0)).alias("wrong_dim"),
        F.when(~is_null, (norm2 == 0).cast("long"))
        .otherwise(F.lit(0))
        .alias("zero_vec"),
        F.when(~is_null, nonfinite.cast("long"))
        .otherwise(F.lit(0))
        .alias("nonfin"),
        norm2.alias("n2"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("null_vec").alias("n_null"),
        F.sum("wrong_dim").alias("n_wrong_dim"),
        F.sum("zero_vec").alias("n_zero"),
        F.sum("nonfin").alias("n_nonfinite"),
        F.min("n2").alias("min_norm2_scaled"),
        F.max("n2").alias("max_norm2_scaled"),
    )
