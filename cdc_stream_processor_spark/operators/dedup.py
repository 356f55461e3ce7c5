"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-disciplined for 100 TB:

- exact_dedup:      normalize → hash-groupBy on the normalized text. One
                    shuffle on the group key; partial agg does the heavy
                    lifting map-side.
- minhash_lsh_pairs: shingle → 32 minhashes → 8 LSH bands → band-bucket
                    self-join (only colliding docs meet) → exact Jaccard
                    verify. Never materializes the O(n²) pair space; shuffle
                    is on (band, bucket) keys. Classic MinHash/LSH per
                    Broder '97 / MMDS ch.3.
- simhash:          32-bit SimHash fingerprints (Charikar '02); near-dup
                    pairs via band-blocked candidates + Hamming verify —
                    pigeonhole: d bits split into b bands finds every pair
                    with hamming < b.
- ngram_jaccard_pairs: inverted-index candidate join on shared shingle hash
                    (rarest-first cap optional) → exact Jaccard.

All hashing is JVM-side higher-order array expressions (no Python UDFs) or
their bit-identical numpy twins; the polynomial hash is oracle-checkable
against DuckDB.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators.memo import memoized
from cdc_stream_processor_spark.plans.layout import cache_by_key, ensure_parallelism

N_MINHASH = 32
N_BANDS = 8  # 4 rows/band
SIMHASH_BITS = 32
SIMHASH_BANDS = 8  # 4 bits/band → finds all pairs with hamming < 8

_SIG_SCHEMA = "doc_id long, hs array<long>, mh array<long>"
_SHINGLE_SCHEMA = "doc_id long, hs array<long>"
_SIMHASH_SCHEMA = "doc_id long, simhash long"


@memoized
def _vectorized_signatures(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    with_minhash: bool = True,
) -> DataFrame:
    """(doc_id, hs[, mh]) via one Arrow-batched mapInPandas pass — numpy
    twins of the Catalyst folds (functions.fasthash), bit-identical values.
    Docs with no shingles are dropped (as the fold path's size>0 filter).

    Memoized: the signature table is the shared first stage of the whole
    near-dup family (MinHash-LSH, n-gram Jaccard, containment, Bloom/exact
    decontamination) on the same corpus."""
    import numpy as np

    from cdc_stream_processor_spark.functions import fasthash as FH

    params = [_minhash_params(i) for i in range(N_MINHASH)] if with_minhash else []
    schema = _SIG_SCHEMA if with_minhash else _SHINGLE_SCHEMA

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            all_shingles: list[str] = []
            lens: list[int] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = FH.shingles_py(FH.tokens_py(text), k)
                if not sh:
                    continue
                ids.append(doc_id)
                all_shingles.extend(sh)
                lens.append(len(sh))
            if not ids:
                # every doc in this batch dropped (no shingles — short/empty
                # docs, common in web corpora): yield NOTHING. An empty
                # pd.DataFrame built from empty lists types the list columns
                # as float64 ndarrays, which Arrow cannot convert to
                # list<int64> — at scale one such batch crashed the whole
                # job (ArrowNotImplementedError), found by the hypothesis
                # exact-duplicate recall test.
                continue
            # ONE vectorized hash pass over every shingle in the batch
            hashes = FH.polyhash_batch(all_shingles)
            lens_arr = np.asarray(lens, dtype=np.int64)
            bounds = np.concatenate(([0], np.cumsum(lens_arr)[:-1]))
            out = {
                "doc_id": pd.Series(ids, dtype="int64"),
                "hs": np.split(hashes, np.cumsum(lens_arr)[:-1]),
            }
            if with_minhash:
                out["mh"] = list(FH.minhash_batch(hashes, bounds, params))
            yield pd.DataFrame(out)

    cols = docs.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
    return ensure_parallelism(cols).mapInPandas(compute, schema=schema)


def normalized_text(text: F.Column) -> F.Column:
    """lower + trim + whitespace collapse — the canonical form for exact dedup."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized text. Single shuffle."""
    norm = normalized_text(F.col(text_col))
    return (
        docs.select(F.col(id_col), norm.alias("_norm"))
        .groupBy("_norm")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _minhash_params(i: int) -> tuple[int, int]:
    # fixed affine permutations (a odd, deterministic) — mirrored in oracle SQL
    return 37 + 2 * i, 101 + i * i


def minhashes(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              vectorized: bool = True) -> DataFrame:
    """doc_id, shingle-hash array, array of N_MINHASH minhash values.

    vectorized=True (default) computes the identical values through the
    numpy kernels (one Arrow pass); False keeps the pure-Catalyst fold form.
    """
    if vectorized:
        return _vectorized_signatures(docs, text_col, id_col, k=3, with_minhash=True)
    docs = ensure_parallelism(docs)  # small-file scans must not serialize hashing
    hs = TH.shingle_hashes(F.col(text_col), k=3)

    def _perm(a: int, b: int):
        # hashes are already in [0, P), so a*x cannot overflow a long
        return lambda x: (F.lit(a) * x + F.lit(b)) % TH.P_MOD

    mh = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _perm(a, b)))
            for a, b in (_minhash_params(i) for i in range(N_MINHASH))
        ]
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
        .filter(F.size("hs") > 0)
        .withColumn("mh", mh)
    )


def _band_rows(mh: DataFrame) -> DataFrame:
    """Signature table → skinny (doc_id, band_idx, band_hash) rows. The
    shingle arrays do NOT ride through the explode — only 3 small columns
    shuffle in the downstream band equi-join."""
    rows = N_MINHASH // N_BANDS
    band_val = [
        F.aggregate(
            F.slice("mh", i * rows + 1, rows),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % TH.P_MOD,
        ).alias(f"b{i}")
        for i in range(N_BANDS)
    ]
    return mh.select("doc_id", *band_val).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(N_BANDS)])).alias(
            "band_idx", "band_hash"
        ),
    )


def minhash_scored_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every LSH candidate pair (≥1 shared band) with its EXACT Jaccard —
    the scored candidate set behind near-dup detection (≥ threshold) and
    hard-negative mining (band-collision pairs below it). Returns
    (doc_a < doc_b, jaccard)."""
    # Persist the signature table: it feeds both sides of the band self-join
    # plus the verification join — without it the (expensive) hashing subplan
    # is recomputed once per branch. At cluster scale this is the standard
    # "materialize the signature table" step of a MinHash pipeline.
    mh = minhashes(docs, text_col, id_col).persist()
    bands = _band_rows(mh)
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sets = mh.select("doc_id", "hs")
    verified = cand.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
        "doc_b",
    )
    shared = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - shared
    jac = F.round(shared / union, 6)
    return verified.withColumn("jaccard", jac).select("doc_a", "doc_b", "jaccard")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, verified by exact Jaccard ≥
    threshold on the shingle sets. Returns (doc_a, doc_b, jaccard)."""
    return minhash_scored_candidates(docs, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Admit/reject a NEW batch against an EXISTING corpus — the daily-ingest
    shape of fuzzy dedup. A new doc is rejected when it is a verified
    near-dup (exact Jaccard ≥ threshold) of any corpus doc or of an
    earlier (smaller-id) doc within the same batch.

    Scale shape: the band equi-join runs new×corpus and new×new ONLY —
    never corpus×corpus — so admitting a day's batch costs
    O(|batch| · bands) join rows against the (pre-materialized, in
    production) corpus signature table instead of re-deduplicating 100 TB
    of history. Returns (doc_id, n_dups, keep) for every new doc with a
    non-empty shingle set.
    """
    mh_new = minhashes(new_docs, text_col, id_col).persist()
    mh_old = minhashes(corpus, text_col, id_col).persist()
    bn = _band_rows(mh_new)
    bo = _band_rows(mh_old)
    cross = bn.select(F.col("doc_id").alias("new_id"), "band_idx", "band_hash").join(
        bo.select(F.col("doc_id").alias("other_id"), "band_idx", "band_hash"),
        ["band_idx", "band_hash"],
    )
    within = (
        bn.select(F.col("doc_id").alias("new_id"), "band_idx", "band_hash")
        .join(
            bn.select(F.col("doc_id").alias("other_id"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("other_id") < F.col("new_id"))
    )
    cand = (
        cross.select("new_id", "other_id")
        .union(within.select("new_id", "other_id"))
        .dropDuplicates(["new_id", "other_id"])
    )
    sets = mh_old.select("doc_id", "hs").union(mh_new.select("doc_id", "hs"))
    verified = cand.join(
        mh_new.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_a")),
        "new_id",
    ).join(
        sets.select(F.col("doc_id").alias("other_id"), F.col("hs").alias("hs_b")),
        "other_id",
    )
    shared = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - shared
    dups = (
        verified.filter(F.round(shared / union, 6) >= threshold)
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        mh_new.select("doc_id")
        .join(dups, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_dups"), F.lit(0)).alias("n_dups"),
            F.col("new_id").isNull().alias("keep"),
        )
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            vectorized: bool = True) -> DataFrame:
    """32-bit SimHash over token hashes (frequency-weighted). Returns
    (doc_id, simhash:long)."""
    if vectorized:
        import numpy as np

        from cdc_stream_processor_spark.functions import fasthash as FH

        def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids: list[int] = []
                all_toks: list[str] = []
                lens: list[int] = []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    toks = FH.tokens_py(text)
                    if not toks:
                        continue
                    ids.append(doc_id)
                    all_toks.extend(toks)
                    lens.append(len(toks))
                if ids:
                    lens_arr = np.asarray(lens, dtype=np.int64)
                    bounds = np.concatenate(([0], np.cumsum(lens_arr)[:-1]))
                    fp = FH.simhash_batch(
                        FH.polyhash_batch(all_toks), bounds, SIMHASH_BITS
                    )
                else:
                    fp = []
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "simhash": pd.Series(fp, dtype="int64"),
                    }
                )

        cols = docs.select(id_col, text_col)
        return ensure_parallelism(cols).mapInPandas(compute, schema=_SIMHASH_SCHEMA)

    hs = TH.token_hashes(F.col(text_col))
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), hs.alias("hs")
    ).filter(F.size("hs") > 0)
    def _vote_fn(b: int):
        return lambda acc, x: acc + F.when(
            F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_terms = []
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(F.col("hs"), F.lit(0).cast("long"), _vote_fn(b))
        bit_terms.append(
            F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    fp = bit_terms[0]
    for t in bit_terms[1:]:
        fp = fp + t
    return base.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Band-blocking: 32 bits → 8 bands of 4; any pair with hamming < 8 shares
    at least one exact band (pigeonhole), so candidates are found with an
    equi-join on (band_idx, band_bits) — no O(n²) cross join.
    """
    assert max_hamming < SIMHASH_BANDS, "pigeonhole guarantee violated"
    # persist: the 32-fold fingerprint subplan feeds both join sides
    fps = simhash(docs, text_col, id_col).persist()
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        "band_idx", "band_bits",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        "band_idx", "band_bits",
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # A pair sharing k bands would surface k times from the equi-join; keep
    # it only at its FIRST shared band — computable as a pure expression
    # from the two full fingerprints already on the row — so the pair set
    # is exact without a dropDuplicates shuffle over the candidates.
    first_shared = F.least(
        *[
            F.when(
                F.shiftright("sh_a", i * width).bitwiseAND(F.lit((1 << width) - 1))
                == F.shiftright("sh_b", i * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                ),
                F.lit(i),
            ).otherwise(F.lit(SIMHASH_BANDS))
            for i in range(SIMHASH_BANDS)
        ]
    )
    return (
        left.join(right, ["band_idx", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("band_idx") == first_shared)
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    vectorized: bool = True,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted index: explode shingle hashes,
    self-join on the hash (only docs sharing a shingle meet), count shared
    per pair, verify threshold. Shuffle keys: shingle hash, then pair.

    max_shingle_df (skew guard for the 100 TB path): drop shingle hashes
    whose document frequency exceeds the cutoff from the inverted index
    BEFORE the self-join — one ubiquitous shingle ("in the of") otherwise
    lands df² pair rows on a single reducer. Candidates then come from the
    filtered index and Jaccard is re-verified EXACTLY on the full shingle
    sets (array_intersect join, as the MinHash verify step), so scores are
    unaffected; only pairs whose entire overlap is hot shingles can be
    missed — such pairs are overwhelmingly below any useful threshold.
    None (default) keeps the fully exact count-based path."""
    if vectorized:
        base = _vectorized_signatures(
            docs, text_col, id_col, k=3, with_minhash=False
        ).persist()
    else:
        hs = TH.shingle_hashes(F.col(text_col), k=3)
        # persist: base feeds the inverted index AND the two size joins
        base = (
            ensure_parallelism(docs)
            .select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
            .filter(F.size("hs") > 0)
            .persist()
        )
    sizes = base.select("doc_id", F.size("hs").alias("n"))
    # HASH-partition the exploded inverted index by h and cache it (r13,
    # guide §2.4): the self-join re-shuffles BOTH aliases of `inv` by h
    # at runtime (exprId re-aliasing defeats ReuseExchange), so caching
    # it already h-partitioned removes two corpus-scale exchanges for one
    # at build — the winnowing_overlap_pairs pattern.
    inv = cache_by_key(base.select("doc_id", F.explode("hs").alias("h")), "h")
    if max_shingle_df is not None:
        hot = (
            inv.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("h")
        )
        # no broadcast hint: `hot` is bounded by occurrences/max_shingle_df,
        # which at 100 TB can still be table-scale — AQE broadcasts it when
        # it is actually small (same class as the dbscan cores fix, r8)
        inv_cold = inv.join(hot, "h", "left_anti")
        cand = (
            inv_cold.alias("a")
            .join(inv_cold.alias("b"), "h")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        sets = base.select("doc_id", "hs")
        verified = cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        ).join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
        shared = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
        union = (F.size("hs_a") + F.size("hs_b")).cast("double") - shared
        return (
            verified.withColumn("jaccard", F.round(shared / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


# Probe cap for the driver union-find fast path.  The probe collects via
# Arrow (toPandas), so 1M edges cost two int64 numpy columns ≈16 MB of
# driver heap — NOT 1M pyspark Row objects (that was the old path, whose
# real cost was ~100-300 MB of Python object headers).
CC_SMALL_GRAPH_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    small_graph_limit: int = CC_SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over a near-duplicate pair table by min-label
    propagation + pointer jumping: returns (id, rep) for every node that
    appears in `pairs`, where rep is the minimum node id in its component.

    Two regimes:
    - **small graphs** (≤ `small_graph_limit` edges, probed with an
      early-exit `limit(n+1).count()`): a driver-side union-find.  The
      collect is BOUNDED by the limit constant (≈16 MB), the same pattern
      as the IVF training sample — pair tables from dedup candidates are
      dup-rate-sized, not corpus-sized, so this is the common case and
      removes ~10 scheduler round-trips of fixed latency per call.
      Pass ``small_graph_limit=0`` to force the distributed path.
    - **large graphs**: distributed label propagation; each round is one
      equi-join (edges ⋈ labels on src) + partial-aggregated min + a
      pointer-jump self-join (rep(v) ← rep(rep(v))), so rounds are
      O(log diameter), not O(diameter) (loose-threshold near-dup graphs
      chain; measured diameter ~10² on the semdedup pair table).  Reps
      only ever decrease over a fixed id set, so Σrep is a convergence
      signature costing one scalar agg per round.  `localCheckpoint`
      truncates lineage each round; on a real cluster with dynamic
      allocation, switch to a reliable `checkpoint()` directory.  Same
      family as GraphFrames' large-graph CC (Kiveris et al. '14).

    Both regimes emit identical results (min-id representative — set
    semantics, no order dependence), so oracle checks hold on either path.
    """
    if small_graph_limit:
        # promoted id type: let Spark's own coercion pick the common type
        # of a_col and b_col (they can differ, e.g. int vs long sides)
        id_type = (
            pairs.select(F.coalesce(F.col(a_col), F.col(b_col)).alias("_t"))
            .schema[0]
            .dataType
        )
        probe = (
            pairs.select(
                F.col(a_col).cast(id_type).alias("src"),
                F.col(b_col).cast(id_type).alias("dst"),
            )
            # a null endpoint is not a node; dropping BEFORE toPandas also
            # keeps the Arrow columns int64 — a nullable long WITH nulls
            # coerces to float64, turning ids > 2^53 into silently-wrong
            # union-find keys and nulls into NaN
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .limit(small_graph_limit + 1)
        )
        # Arrow collect: two numpy columns, no per-row Row objects
        pdf = probe.toPandas()
        if len(pdf) <= small_graph_limit:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN id so rep is the component minimum
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            import pandas as pd

            from pyspark.sql.types import StructField, StructType

            out = pd.DataFrame(
                {
                    "id": list(parent),
                    "rep": [find(x) for x in parent],
                }
            )
            return pairs.sparkSession.createDataFrame(
                out,
                StructType(
                    [
                        StructField("id", id_type, False),
                        StructField("rep", id_type, False),
                    ]
                ),
            )
    e = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    # seed: rep(v) = min(v, min direct neighbor) — one round of propagation
    # folded into the init, for free (src is the grouping key).
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("rep"))
        .withColumnRenamed("src", "id")
        .localCheckpoint()
    )
    # Convergence probe: reps only ever DECREASE and the id set is fixed
    # after the seed, so Σrep strictly decreases on any change —
    # comparing one scalar aggregate per round replaces the former
    # join + filter + count probe (a full extra join plan per round;
    # plan-to-RDD latency dominated CC cost on small pair tables).
    prev_sig = labels.agg(F.sum("rep")).collect()[0][0]
    for _ in range(max_iter):
        prop = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "rep")
        )
        stepped = (
            labels.union(prop)
            .groupBy("id")
            .agg(F.min("rep").alias("rep"))
        )
        # pointer-jump (path halving): rep(v) ← rep(rep(v)).  Plain
        # edge-propagation needs diameter-many rounds — near-dup pairs at a
        # loose threshold chain into long paths (measured ~20 rounds on the
        # sf0.1 semdedup pair table) — while halving squares the progress
        # per round, so the loop converges in O(log diameter).  Every rep
        # is itself a node id present in `stepped`, so the self-join is
        # total (left + coalesce guards the invariant, not a data case).
        new_labels = (
            stepped.join(
                stepped.select(
                    F.col("id").alias("_rid"), F.col("rep").alias("_rrep")
                ),
                F.col("rep") == F.col("_rid"),
                "left",
            )
            .select("id", F.coalesce("_rrep", "rep").alias("rep"))
            .localCheckpoint()
        )
        sig = new_labels.agg(F.sum("rep")).collect()[0][0]
        labels = new_labels
        if sig == prev_sig:
            break
        prev_sig = sig
    edges.unpersist()
    return labels


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus-level fuzzy dedup, end to end: MinHash-LSH pairs → connected
    components → drop every non-representative cluster member (keep the
    min-id doc per near-dup cluster; unpaired docs all survive).

    The drop-list is tiny relative to the corpus (only clustered dup members),
    so the final left_anti join broadcasts at any realistic dup rate."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold)
    cc = connected_components(pairs)
    drop = cc.filter(F.col("id") != F.col("rep")).select(F.col("id").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def contrastive_triplets(
    docs: DataFrame,
    pos_threshold: float = 0.5,
    neg_threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(anchor, positive, hard_negative) training triplets for embedding-
    model fine-tuning, mined from the MinHash-LSH candidate structure:
    positives are near-dups (Jaccard ≥ pos_threshold), hard negatives are
    band-collision candidates that verify BELOW neg_threshold — lexically
    entangled enough to collide in LSH space yet semantically far, the
    classic "hard" negative that random sampling never finds.

    Pairs anchor both directions; per anchor, max_by picks the strongest
    positive and the weakest colliding negative with (score, id)
    tie-breaks — associative reductions, one groupBy, no window. Only
    anchors having both a positive and a hard negative emit a triplet.
    """
    scored = minhash_scored_candidates(docs, text_col, id_col).persist()
    both = scored.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("other"), "jaccard"
    ).union(
        scored.select(
            F.col("doc_b").alias("anchor"), F.col("doc_a").alias("other"), "jaccard"
        )
    )
    pos = (
        both.filter(F.col("jaccard") >= pos_threshold)
        .groupBy("anchor")
        .agg(
            F.max_by(
                F.struct(
                    F.col("other").alias("id"), F.col("jaccard").alias("j")
                ),
                F.struct(F.col("jaccard").alias("j"), (-F.col("other")).alias("ni")),
            ).alias("p")
        )
    )
    # hardest negative = the MOST similar candidate still below the
    # negative threshold (closest to the decision boundary)
    neg = (
        both.filter(F.col("jaccard") < neg_threshold)
        .groupBy("anchor")
        .agg(
            F.max_by(
                F.struct(
                    F.col("other").alias("id"), F.col("jaccard").alias("j")
                ),
                F.struct(F.col("jaccard").alias("j"), (-F.col("other")).alias("ni")),
            ).alias("n")
        )
    )
    return pos.join(neg, "anchor").select(
        "anchor",
        F.col("p.id").alias("positive_id"),
        F.col("p.j").alias("positive_jaccard"),
        F.col("n.id").alias("negative_id"),
        F.col("n.j").alias("negative_jaccard"),
    )


# --- directional n-gram containment -------------------------------------------

CONTAINMENT_TAU = 0.5


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = CONTAINMENT_TAU,
) -> DataFrame:
    """Directional shingle containment C(A→B) = |S(A) ∩ S(B)| / |S(A)|:
    the asymmetric near-dup signal Jaccard misses when one document quotes
    or wholly embeds another of very different length (|A| ≪ |B| caps
    Jaccard at |A|/|B| but containment at 1.0) — the standard
    quote/subset-detection measure alongside resemblance (Broder '97).

    Shape: one inverted-index self-join on the shingle hash produces each
    unordered candidate once (a < b) with its shared count — identical
    cost to ngram_jaccard_pairs — then both directions are emitted from
    the one shared count with their own denominators (an array explode,
    no second join).  Emits (doc_a, doc_b, containment) for every ordered
    pair clearing the threshold.
    """
    hs = TH.shingle_hashes(F.col(text_col), k=3)
    base = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
        .filter(F.size("hs") > 0)
        .persist()
    )
    sizes = base.select("doc_id", F.size("hs").alias("n"))
    # h-partitioned cache: both self-join aliases read the cached layout
    # instead of re-exchanging by h (r13 — same as ngram_jaccard_pairs)
    inv = cache_by_key(base.select("doc_id", F.explode("hs").alias("h")), "h")
    shared = (
        inv.alias("a")
        .join(inv.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_lo"), F.col("b.doc_id").alias("id_hi")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    directed = shared.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_lo").alias("doc_a"), F.col("id_hi").alias("doc_b")
                ),
                F.struct(
                    F.col("id_hi").alias("doc_a"), F.col("id_lo").alias("doc_b")
                ),
            )
        ).alias("p"),
        "shared",
    ).select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"), "shared")
    return (
        directed.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .withColumn(
            "containment",
            F.round(
                F.col("shared").cast("double") / F.col("n_a").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def minhash_estimate_vs_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair (≥1
    shared band, i.e. the pairs the banded index would actually surface),
    the SIGNATURE-agreement Jaccard estimate next to the exact shingle
    Jaccard — E[matches/N] = J, so this is the is-my-sketch-lying audit
    that complements lsh_recall_eval's does-my-index-miss audit. A
    pipeline tuning (N_MINHASH, N_BANDS) reads this table, not the
    theory.

    est_milli = (1000 · sig_matches) div N_MINHASH keeps the estimate
    integer-exact; the exact Jaccard is the same ROUND(·, 6) as the
    near-dup family. Cost shape: identical to minhash_scored_candidates
    (one persisted signature table, band self-join, candidate-scale
    verification joins) plus one map-side zip over the 32-element
    signature arrays — candidates, never the corpus, pay it.
    """
    mh = minhashes(docs, text_col, id_col).persist()
    bands = _band_rows(mh)
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
        .join(
            bands.select(
                F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sides = mh.select("doc_id", "hs", "mh")
    verified = cand.join(
        sides.select(
            F.col("doc_id").alias("doc_a"),
            F.col("hs").alias("hs_a"),
            F.col("mh").alias("mh_a"),
        ),
        "doc_a",
    ).join(
        sides.select(
            F.col("doc_id").alias("doc_b"),
            F.col("hs").alias("hs_b"),
            F.col("mh").alias("mh_b"),
        ),
        "doc_b",
    )
    shared = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - shared
    matches = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("long")
    return verified.select(
        "doc_a",
        "doc_b",
        matches.alias("sig_matches"),
        F.round(shared / union, 6).alias("jaccard"),
        # integer milli-estimate: cast-trunc == div for non-negative ints
        ((F.lit(1000) * matches) / F.lit(N_MINHASH))
        .cast("long")
        .alias("est_milli"),
    )
