"""Training-corpus construction operators: split, decontamination,
sequence packing, embedding quantization — plus temperature-based domain
sampling, corpus-frequency boilerplate removal, deterministic global
shuffle, and sliding-window chunking (documented at their definitions).

These are the corpus-assembly steps a large-scale LLM training pipeline runs
after dedup/quality filtering (operators.dedup / operators.text), all
shuffle-disciplined for 100 TB:

- corpus_split:        deterministic hash-threshold train/val/test split.
                       Pure map — no shuffle, no per-stratum sort — so it
                       scales embarrassingly; at corpus scale the law of
                       large numbers makes realized proportions exact to
                       ~1e-5 per stratum. (An exact-proportion ntile variant
                       would need a per-stratum global sort — the map-side
                       hash is the 100 TB shape.)
- decontaminate:       flags corpus documents whose word k-gram shingles
                       overlap an evaluation/benchmark set — the standard
                       test-set-contamination guard before pretraining.
                       The benchmark index is tiny next to the corpus, so
                       it is BROADCAST: the corpus-side inverted index
                       never shuffles for the join; only matched pairs
                       shuffle into the per-pair count.
- pack_sequences:      concat-and-chunk sequence packing — documents are
                       laid out in a deterministic order per input shard,
                       token offsets accumulate, and each fixed-capacity
                       pack is a contiguous token range (documents may
                       straddle a boundary, as GPT-style pretraining packs
                       do). Windows partition by the shard key (`source`
                       here), never a global total order.
- quantize_embeddings: symmetric int8 scalar quantization of an
                       array<float> embedding column (truncation mode) with
                       per-vector scale and reconstruction-error metrics.
                       Pure per-row column expressions — map-only.

All arithmetic is JVM-side column expressions chosen for bit-exact parity
with a DuckDB oracle (see queries_corpus): integer LCG hashes, integer
window sums, IEEE double division, and truncation instead of rounding
(Spark CAST(double AS long) truncates toward zero; DuckDB CAST rounds, so
the oracle spells trunc() explicitly — a half-boundary-free pairing).

Reference scope note: the reference (cdc-stream-processor) has no corpus
tooling; these extend the engine for the training-data use cases in
SURVEY.md §2.11's extension charter, alongside operators.dedup and
operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.operators.similarity import as_double
from cdc_stream_processor_spark.plans.layout import cache_by_key, ensure_parallelism

# LCG for the split key: u = ((id*A + B) mod P) / P ∈ [0, 1). The same
# constants round-trip exactly through DuckDB BIGINT arithmetic (cf. the
# SRP-LSH plane-weight LCG in operators.similarity).
SPLIT_A = 1_103_515_245
SPLIT_B = 12_345
SPLIT_P = 2_147_483_647

PACK_CAPACITY = 64  # tokens per pack in the registered query (test corpus ~30/doc)

QUANT_LEVELS = 127  # symmetric int8: q ∈ [-127, 127]


def split_key(id_col: Column) -> Column:
    """Deterministic uniform-ish key in [0, 1): integer LCG then one double
    division (both engines perform the identical IEEE operation)."""
    h = (id_col.cast("long") * SPLIT_A + SPLIT_B) % SPLIT_P
    return h.cast("double") / F.lit(float(SPLIT_P))


def corpus_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    test_frac: float = 0.1,
    val_frac: float = 0.2,
) -> DataFrame:
    """Assign each document a deterministic train/val/test label from its id
    hash. Map-only: the assignment is reproducible across runs, engines and
    partitionings, needs no shuffle, and any stratum's realized fractions
    converge to the targets at scale. Returns the input columns plus
    (split_key, split)."""
    u = split_key(F.col(id_col))
    label = (
        F.when(u < F.lit(test_frac), F.lit("test"))
        .when(u < F.lit(test_frac + val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.withColumn("split_key", u).withColumn("split", label)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Word k-gram overlap between corpus documents and a benchmark set.

    Returns (doc_id, bench_id, shared_shingles) for every corpus/benchmark
    pair sharing ≥ min_overlap distinct shingles — the docs to drop (or
    audit) before training so evaluation data does not leak into the corpus.

    Scale shape: the benchmark inverted index (bench_id, shingle_hash) is
    small — thousands of eval documents vs billions of corpus documents —
    so it is broadcast; the corpus side streams through the hash join
    map-side and only matched (doc, bench) rows shuffle for the count.
    max_shingle_df optionally drops shingles whose document frequency
    WITHIN THE BENCHMARK exceeds the cutoff (computable on the small side,
    no corpus-wide count): a boilerplate shingle shared by most benchmark
    docs would otherwise match nearly every corpus doc and explode the
    join output by |benchmark| per corpus doc.
    """
    from cdc_stream_processor_spark.operators.dedup import (
        _vectorized_signatures,
    )

    def index(df: DataFrame, out_id: str) -> DataFrame:
        # the interpreted Catalyst hash fold is ~10x slower than its numpy
        # twin, so hash in one Arrow pass (bit-identical values — same
        # kernel the MinHash path uses)
        sig = _vectorized_signatures(df, text_col, id_col, k=k,
                                     with_minhash=False)
        return sig.select(F.col("doc_id").alias(out_id), F.explode("hs").alias("h"))

    corp = index(corpus, "doc_id")
    bench = index(benchmark, "bench_id")
    if max_shingle_df is not None:
        hot = (
            bench.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("h")
        )
        bench = bench.join(F.broadcast(hot), "h", "left_anti")
    return (
        corp.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_overlap)
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents are
    concatenated in id order and the token stream is cut into fixed
    `capacity` packs. Each document gets the pack containing its first
    token, its offset within that pack, and whether it straddles into the
    next pack — exactly the layout a pretraining loader materializes.

    Scale shape: the running token sum is a window PARTITIONED BY the shard
    key — one shuffle on the shard key, parallel across shards, never a
    global total order. (`source` stands in for the input-shard key; a
    production pipeline packs per input file/split, which bounds partition
    size by construction.)
    """
    n_tokens = F.size(TH.tokens(F.col(text_col)))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).alias("source"),
        n_tokens.alias("n_tokens"),
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        t.withColumn("start", start)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"start div {capacity}").alias("pack_id"),
            (F.col("start") % capacity).alias("pack_pos"),
            ((F.col("start") % capacity) + F.col("n_tokens") > capacity).alias(
                "straddles"
            ),
        )
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization (truncation mode) of an
    array<float> embedding column.

    Per vector: scale = max|x| / 127, q_d = trunc(x_d / scale) ∈ [-127, 127].
    Truncation (not rounding) is deliberate: CAST(double AS long) truncates
    toward zero in Spark while DuckDB's CAST rounds half-even — trunc is the
    one integerization both engines state identically, and it has no
    half-boundary ambiguity. Emits a polynomial digest of the quantized
    vector (order-sensitive fold, so any flipped element changes it) plus
    reconstruction-error metrics; raw IEEE doubles, never rounded.

    Map-only — no shuffle, no Python workers; at 100 TB this runs at scan
    speed and cuts vector storage 4× (float32 → int8 + one scale).
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    max_abs = F.aggregate(
        F.transform(F.col("v"), F.abs),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    with_scale = base.withColumn("scale", max_abs / F.lit(float(QUANT_LEVELS)))
    qv = F.when(
        F.col("scale") == F.lit(0.0),
        F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(F.col("v"), lambda x: (x / F.col("scale")).cast("long"))
    )
    with_q = with_scale.withColumn("qv", qv)
    digest = F.aggregate(
        F.col("qv"),
        F.lit(0).cast("long"),
        lambda acc, q: (acc * TH.P_FACTOR + (q + QUANT_LEVELS)) % TH.P_MOD,
    )
    max_abs_err = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("qv"),
            lambda x, q: F.abs(x - q.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    return with_q.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        "scale",
        digest.alias("q_digest"),
        max_abs_err.alias("max_abs_err"),
    )


# Global-shuffle LCG: a third spectral-test-good MCG multiplier for
# m = 2^31 - 1 (Fishman & Moore '86), distinct from the split and sample
# keys so shuffle order correlates with neither.
SHUFFLE_A = 742_938_285
SHUFFLE_B = 55_555
SHUFFLE_BUCKET_SHIFT = 21  # 2^31 key space div 2^21 → 1024 rank buckets


def global_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization: every
    row gets a pseudo-random permutation position, reproducible across runs,
    engines, and partitionings.

    The LCG h = (id*A + B) mod (2^31-1) is a bijection on [0, 2^31-1), so
    distinct ids < P get distinct keys and the permutation is total.

    Scale shape — the distributed-rank pattern, NOT a global window (a
    row_number over an empty partition spec collapses to ONE reducer):
    rows land in ~1024 key-range buckets (top bits of h); per-bucket counts
    fold into cumulative offsets (≤1024 rows — driver-scale, BROADCAST);
    each row's position = its bucket's offset + its rank WITHIN the bucket
    (window partitioned by bucket — parallel across buckets). Two shuffles
    bounded by the bucket count and corpus size, same shape as a terasort
    range partitioning. Returns (doc_id, shuffle_key, shuffle_pos).
    """
    h = (F.col(id_col).cast("long") * SHUFFLE_A + SHUFFLE_B) % SPLIT_P
    keyed = docs.select(
        F.col(id_col).alias("doc_id"), h.alias("shuffle_key")
    ).withColumn(
        "bucket", F.shiftright(F.col("shuffle_key"), SHUFFLE_BUCKET_SHIFT)
    )
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    offsets = counts.select(
        "bucket",
        (
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("n")
        ).alias("offset"),
    )
    in_bucket = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "shuffle_pos",
            F.col("offset") + F.row_number().over(in_bucket) - F.lit(1),
        )
        .select("doc_id", "shuffle_key", "shuffle_pos")
    )


BOILERPLATE_DF_PERMILLE = 790  # token is boilerplate when df/ndocs > 0.790


def remove_boilerplate_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_permille: int = BOILERPLATE_DF_PERMILLE,
) -> DataFrame:
    """Corpus-frequency boilerplate removal: drop every token whose document
    frequency exceeds max_df_permille/1000 of the corpus, and reconstruct the
    text from the surviving tokens in order — the token-level analogue of
    C4's boilerplate-line removal (Raffel et al. '20 §2.2), for corpora
    without line structure.

    The threshold comparison is pure integer arithmetic
    (df * 1000 > permille * ndocs) so the boilerplate set is bit-exactly
    reproducible in any engine — no float DF ratio to misround at the
    boundary. Reconstruction preserves the normalized token stream
    (lowercased, whitespace-collapsed — `texthash.tokens`' normalization).

    Scale shape: the DF pass is one explode + partial-aggregated groupBy on
    token (vocabulary-sized output, millions of rows at 100 TB — trivial);
    the stoplist (tokens ABOVE the ubiquity threshold — inherently few)
    folds to a single array row that is BROADCAST, so the rewrite pass is
    map-only over the corpus: no per-document shuffle, no explode-and-
    regroup reconstruction. Returns (doc_id, n_tokens_before,
    n_tokens_removed, clean_text).
    """
    # persist: token arrays feed the df aggregate AND the map-only
    # rewrite pass — one tokenize instead of two
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("toks")
    ).persist()
    dfreq = (
        toks.select(F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ndocs = docs.agg(F.count(F.lit(1)).alias("ndocs"))
    stoplist = (
        dfreq.crossJoin(F.broadcast(ndocs))
        .filter(F.col("df") * 1000 > F.lit(max_df_permille) * F.col("ndocs"))
        .agg(F.sort_array(F.collect_set("tok")).alias("stoplist"))
    )
    kept = F.filter(
        F.col("toks"), lambda t: ~F.array_contains(F.col("stoplist"), t)
    )
    return (
        toks.crossJoin(F.broadcast(stoplist))
        .withColumn("kept", kept)
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens_before"),
            (F.size("toks") - F.size("kept")).alias("n_tokens_removed"),
            F.array_join("kept", " ").alias("clean_text"),
        )
    )


# Distinct LCG from the split key so sampling decisions don't correlate with
# train/val/test assignment. The multiplier must be large relative to the
# modulus: sequential ids then step ~0.74 mod 1 per id and mix well (a tiny
# multiplier leaves sequential ids clustered in a narrow key band).
# 1588635695 is a spectral-test-good MCG multiplier for m = 2^31 - 1
# (Fishman & Moore '86).
SAMPLE_A = 1_588_635_695
SAMPLE_B = 98_765


def sample_key(id_col: Column) -> Column:
    h = (id_col.cast("long") * SAMPLE_A + SAMPLE_B) % SPLIT_P
    return h.cast("double") / F.lit(float(SPLIT_P))


def temperature_sample(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-based domain reweighting (the p_s ∝ n_s^alpha mixture rule
    used for multilingual/multi-domain LLM corpora): small strata are
    up-weighted, dominant strata down-sampled, total expected yield =
    target_frac * N.

    Scale shape: the per-stratum stats are one partial-aggregated count
    (strata are few — domains/languages), the rates are computed driver-side
    with a deterministic sorted left-fold, and the per-row decision is a
    broadcast hash join + one LCG comparison — no extra shuffle on the corpus.
    alpha=0.5 keeps the weights IEEE-exact (sqrt is correctly rounded in both
    engines); other alphas go through pow, whose last-ulp rounding is libm-
    dependent, so only 0.5 is registered with a bit-exact oracle."""
    import math
    from functools import reduce

    spark = docs.sparkSession
    # None-safe NULLS-LAST sort (plain sorted() dies comparing None<str):
    # a NULL stratum still contributes its weight to sw and its docs to
    # n_total, folded in exactly the oracle's `list(w ORDER BY lang)`
    # position (DuckDB ASC default is NULLS LAST); its DOCS then drop at
    # the equi-join on both engines (NULL never equals NULL).
    stats = sorted(
        (
            (r[stratum_col], r["n"])
            for r in docs.groupBy(stratum_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else ""),
    )
    n_total = float(sum(n for _, n in stats))
    weights = [
        math.sqrt(float(n)) if alpha == 0.5 else math.pow(float(n), alpha)
        for _, n in stats
    ]
    sw = reduce(lambda a, b: a + b, weights, 0.0)
    rates = [
        (s, min(1.0, target_frac * (w / sw) * n_total / float(n)))
        for (s, n), w in zip(stats, weights)
    ]
    rates_df = spark.createDataFrame(rates, f"{stratum_col} string, sample_rate double")
    u = sample_key(F.col(id_col))
    return (
        docs.join(F.broadcast(rates_df), stratum_col)
        .withColumn("sample_key", u)
        .withColumn("keep", F.col("sample_key") < F.col("sample_rate"))
    )


CHUNK_TOKENS = 32  # chunk width (test corpus ~30-80 tokens/doc)
CHUNK_STRIDE = 24  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 8


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window document chunking: each document becomes
    ceil(max(n-chunk,0)/stride)+1 overlapping token windows of width
    `chunk_tokens` at `stride` offsets — the retrieval/pretraining chunker
    (every token is covered; consecutive chunks share chunk-stride tokens;
    the final window is allowed to run short rather than duplicating tail
    tokens).

    Chunk count and boundaries are pure integer arithmetic on the token
    count, so an independent engine reproduces the exact segmentation.

    Scale shape: map-only — tokenize, sequence() the start offsets, explode,
    slice. No shuffle at any corpus size; output order is inherited, and the
    (doc_id, chunk_idx) key is deterministic. Returns
    (doc_id, chunk_idx, n_chunk_tokens, chunk_text).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    # last start index: ceil(max(n - chunk, 0) / stride), integer arithmetic
    last_idx = F.expr(
        f"(greatest(size(__toks) - {chunk_tokens}, 0) + {stride - 1})"
        f" div {stride}"
    ).cast("int")
    return (
        base.filter(n > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx"),
            F.col("__toks").alias("__toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                "__toks", F.col("chunk_idx") * stride + 1, chunk_tokens
            ).alias("__chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("__chunk").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


# --- per-source (domain) caps ------------------------------------------------

SOURCE_CAP = 40  # kept docs per source in the registered query


def source_cap(
    docs: DataFrame,
    cap: int = SOURCE_CAP,
    group_col: str = "source",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Per-domain document cap — the web-corpus guard against a single host
    flooding the training mix. Keeps the top ``cap`` docs per source by
    (quality DESC, id ASC) — "keep the longest/highest-quality per domain".

    One shuffle on the group key; Spark plans a WindowGroupLimit so each
    group is pruned to ``cap`` rows before the final sort — a skewed domain
    (the 100 TB failure mode: one host = 10⁹ docs) never materializes its
    full ranked list. Deterministic total order → reproducible sample."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        docs.select(id_col, group_col, quality_col)
        .withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= cap)
    )


# --- inverted index ----------------------------------------------------------

INDEX_TOP_TERMS = 50
INDEX_MAX_POSTINGS = 20


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_terms: int = INDEX_TOP_TERMS,
    max_postings: int = INDEX_MAX_POSTINGS,
) -> DataFrame:
    """Term → postings-list index over the corpus: for the ``top_terms``
    highest-df terms (df DESC, term ASC), the first ``max_postings`` doc
    ids ascending plus the true document frequency.

    Shape: explode distinct per-doc terms (map-side), then two bounded
    term-level passes that join on the (tiny) term dictionary:
    df from a partial-agg count, postings from a rank ≤ max_postings
    window — Spark's WindowGroupLimit keeps a bounded heap per group, so
    a stopword-grade hot term never materializes its full posting list
    (collect_list only ever sees ≤ max_postings rows per term). The
    top-terms cut is orderBy().limit() — TakeOrderedAndProject (per-
    partition top-N + merge), never a global sort or single-partition
    window over the vocabulary.
    """
    terms = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(TH.tokens(F.col(text_col)))).alias("term"),
    )
    df_agg = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pw = Window.partitionBy("term").orderBy(F.col(id_col).asc())
    postings = (
        terms.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= max_postings)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list(id_col)).alias("postings"))
    )
    agg = df_agg.join(postings, "term")
    top = agg.orderBy(F.col("df").desc(), F.col("term").asc()).limit(top_terms)
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return top.withColumn("term_rank", F.row_number().over(w)).select(
        "term", "df", "postings", "term_rank"
    )


# --- Bloom-prefiltered decontamination ---------------------------------------

# (a, b) pairs for the k bloom probes: position_i(h) = (a_i*h + b_i) % P % m.
# a < 2^31 and h < P < 2^30, so every product stays exact in int64 — the
# arithmetic is replayable bit-for-bit in SQL.
BLOOM_PARAMS = (
    (1_103_515_245, 12_345),
    (69_069, 1),
    (1_664_525, 1_013_904_223),
    (22_695_477, 1),
)
BLOOM_BITS_LOG2 = 20  # 2^20 bits = 128 KiB broadcast


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 5,
    m_log2: int = BLOOM_BITS_LOG2,
) -> DataFrame:
    """Decontamination with a Bloom prefilter — the shape that scales past
    a broadcastable benchmark index. Returns every corpus doc with its
    bloom maybe-hit count and an EXACT ``clean`` flag (same contamination
    rule as ``decontaminate``: some benchmark doc shares ≥ min_overlap
    distinct word k-grams).

    1. The benchmark's distinct shingle hashes are folded into an m-bit
       Bloom filter DISTRIBUTEDLY: hash → k bit positions → (word, bit)
       rows → one bit_or groupBy; only the ≤ m/64 filled words reach the
       driver — the broadcast is the 128 KiB sketch, never the index.
    2. A map-only Arrow pass counts, per corpus doc, shingles whose k
       positions are all set. Bloom filters have no false negatives, so
       maybe_hits bounds the true overlap with ANY benchmark doc from
       above: maybe_hits < min_overlap proves the doc clean — at real
       contamination rates that's ~all docs, and they never shuffle.
    3. Only the surviving candidates join the (bench_id, h) index for the
       exact per-pair overlap count; false-positive candidates are cleared
       there, making the flag exact.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from cdc_stream_processor_spark.operators.dedup import _vectorized_signatures

    m = 1 << m_log2
    bench_sig = _vectorized_signatures(
        benchmark, text_col, id_col, k=k, with_minhash=False
    ).persist()
    bench_h = bench_sig.select(F.explode("hs").alias("h")).distinct()
    pos_cols = [
        ((F.col("h") * F.lit(a) + F.lit(b)) % TH.P_MOD % m).alias(f"p{i}")
        for i, (a, b) in enumerate(BLOOM_PARAMS)
    ]
    words = (
        bench_h.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .select(
            F.expr("CAST(pos / 64 AS BIGINT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )  # bounded: ≤ m/64 rows — this is the sketch, not the data
    bits = np.zeros(m >> 6, dtype=np.int64)
    for r in words:
        bits[r["w"]] = r["bits"]
    bc = corpus.sparkSession.sparkContext.broadcast(bits)
    params = list(BLOOM_PARAMS)
    p_mod = TH.P_MOD

    def _maybe_hits(hs):
        arr = bc.value
        out = np.empty(len(hs), dtype=np.int32)
        for i, h_list in enumerate(hs):
            h = np.asarray(h_list, dtype=np.int64)
            if h.size == 0:
                out[i] = 0
                continue
            hit = np.ones(h.size, dtype=bool)
            for a, b in params:
                pos = (h * a + b) % p_mod % m
                hit &= (arr[pos >> 6] >> (pos & 63)) & 1 == 1
            out[i] = int(hit.sum())
        return pd.Series(out)

    maybe_hits = pandas_udf(_maybe_hits, "int")
    corp_sig = _vectorized_signatures(
        corpus, text_col, id_col, k=k, with_minhash=False
    )
    scored = corp_sig.withColumn("maybe_hits", maybe_hits(F.col("hs"))).persist()
    cand = scored.filter(F.col("maybe_hits") >= min_overlap)
    bench_idx = bench_sig.select(
        F.col("doc_id").alias("bench_id"), F.explode("hs").alias("h")
    )
    dirty = (
        cand.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(bench_idx), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_overlap)
        .select("doc_id")
        .distinct()
    )
    return (
        scored.join(dirty.withColumn("_dirty", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            "maybe_hits",
            F.coalesce(~F.col("_dirty"), F.lit(True)).alias("clean"),
        )
    )


# --- segment-level exact dedup-and-rewrite -----------------------------------

SEGMENT_TOKENS = 10
# first-occurrence key = doc_id * SEG_SHIFT + seg_id: valid while every doc
# has < SEG_SHIFT segments (10M tokens at the default width) — asserted
# nowhere at runtime because a violating doc would first blow the token
# array; the composite stays exact far beyond any real document size.
SEG_SHIFT = 1_000_000


def remove_dup_segments(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = SEGMENT_TOKENS,
) -> DataFrame:
    """Segment-level exact dedup-and-rewrite: split every document into
    fixed-width token segments (the structural analogue of C4's line-level
    dedup, Raffel et al. '20 §2.2, for corpora without line structure —
    RefinedWeb and Dolma apply the same keep-one-copy rule per line), keep
    each distinct segment's FIRST corpus occurrence (min (doc_id, seg_id)),
    drop every other copy — including within-document repeats — and
    reconstruct each document from its surviving segments in order.

    Unlike `dup_spans` (which only *signals* shared windows), this operator
    produces the cleaned corpus. First-occurrence selection uses the exact
    integer composite doc_id*SEG_SHIFT+seg_id, bit-reproducible in any
    engine — no struct-ordering or float-rank subtleties.

    Scale shape: one explode to (segment, doc, pos) skinny rows; the
    first-occurrence pass is MIN(key) OVER (PARTITION BY seg_text) — ONE
    shuffle of the segment rows, where the groupBy-then-rejoin form paid
    that same seg_text shuffle twice (once for the distinct-firsts agg,
    once to sort-merge the keep-set back). Skew exposure is identical:
    either form co-locates every copy of a hot boilerplate segment in one
    task (the join's build side did too), so the window buys strictly
    fewer passes. Reassembly is one groupBy(doc_id) with a sorted-struct
    collect (the secondary-sort pattern, same as user_event_paths).
    Returns (doc_id, n_segs, n_kept, clean_text).
    """
    # persist: the token arrays feed both the segment explode and the
    # per-doc n_segs spine (exprId re-aliasing defeats ReuseExchange) —
    # one regex tokenize pass instead of two
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("toks")
    ).persist()
    n_seg = F.ceil(F.size("toks") / F.lit(float(seg_tokens))).cast("long")
    seg_array = F.when(F.size("toks") > 0, F.transform(
        F.sequence(F.lit(0).cast("long"), n_seg - 1),
        lambda i: F.array_join(
            F.slice(F.col("toks"), i.cast("int") * seg_tokens + 1, seg_tokens),
            " ",
        ),
    )).otherwise(F.array().cast("array<string>"))
    with_n = toks.select("doc_id", n_seg.alias("n_segs"), seg_array.alias("segs"))
    segs = with_n.select(
        "doc_id", F.posexplode("segs").alias("seg_id", "seg_text")
    )
    key = F.col("doc_id") * SEG_SHIFT + F.col("seg_id")
    w_seg = Window.partitionBy("seg_text")
    kept = segs.withColumn("first_key", F.min(key).over(w_seg)).filter(
        key == F.col("first_key")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_id", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        with_n.select("doc_id", "n_segs")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# --- BPE merge learning -------------------------------------------------------

BPE_ROUNDS = 3


def _bpe_top_pair(syms: DataFrame) -> DataFrame:
    """Most frequent adjacent symbol pair, weighted by word frequency.
    Tie-break (count DESC, p1 ASC, p2 ASC) makes the winner total-ordered."""
    def pairs_of(toks):
        n = F.size(toks)
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("p1"),
                    F.element_at(toks, i + 1).alias("p2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<p1:string,p2:string>>"))

    # `toks` is a real ARRAY COLUMN (r13): a bound attribute is read from
    # the row, so every element_at reference is O(1) — the projection IS
    # the let-binding, with no transform(array(…)) wrapper. (r11 re-split
    # the string per element, O(len²)/word; r12 let-bound the split but
    # paid the wrapper — measured 1.53 vs 1.88 s at sf0.1 on bpe_merges.)
    return (
        syms.select(F.explode(pairs_of(F.col("toks"))).alias("p"), "freq")
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(
            F.col("pair_count").desc(), F.col("p1").asc(), F.col("p2").asc()
        )
        .limit(1)
    )


def _bpe_apply(syms: DataFrame, top: DataFrame) -> DataFrame:
    """Merge every adjacent (p1, p2) occurrence in one canonical left-to-
    right scan: fold the symbol ARRAY, replacing a trailing element == p1
    with p1||p2 when the next element == p2.  A symbol created by a merge
    never re-merges within the round (the appended element is p1||p2,
    which the `last == p1` test cannot match for non-empty p2) — exactly
    the i+=2 semantics of the reference BPE scan (Sennrich et al. '16)
    and of the space-joined STRING fold the DuckDB oracle replays
    (tokens contain no spaces, so "acc ends with ' '||p1" ⟺ "last array
    element is p1"; equality of the two folds is pinned by
    test_bpe_array_fold_matches_string_fold).  Keeping the symbols as an
    array end-to-end means no round ever re-splits a string (r13)."""
    p1, p2 = F.col("p1"), F.col("p2")

    def step(acc: Column, x: Column) -> Column:
        return F.when(
            # try_element_at: NULL (≠ p1) on the empty first-step acc —
            # plain element_at raises under ANSI for index -1 of []
            (x == p2) & (F.try_element_at(acc, F.lit(-1)) == p1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(p1, p2)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return (
        syms.crossJoin(F.broadcast(top))
        .select(
            F.aggregate(
                F.col("toks"),
                F.array().cast("array<string>"),
                step,
            ).alias("toks"),
            "freq",
        )
    )


def bpe_merges(
    docs: DataFrame, text_col: str = "text", rounds: int = BPE_ROUNDS
) -> DataFrame:
    """Learn the first `rounds` BPE merges over the corpus — the tokenizer-
    TRAINING stage of an LLM data pipeline (Sennrich et al. '16), fully
    distributed and fully lazy: no driver-side vocabulary loop.

    Each round is (a) one adjacent-pair count over the current symbolization
    — an explode to skinny (p1, p2, freq) rows with map-side partial sums,
    aggregating at VOCABULARY scale (distinct words), never corpus scale —
    and (b) a map-only merge-apply pass where the single winning pair rides
    a one-row broadcast.  The rounds chain as one DAG; nothing is collected.

    At 100 TB the word-frequency table is the only corpus-scale shuffle
    (same as build_vocab); every merge round then costs O(vocab) — millions
    of rows, trivially parallel.  Real tokenizers run ~50k rounds with a
    driver-side priority queue over the SAME distributed pair counts; the
    fixed-round form keeps the whole computation an oracle-checkable plan.

    Returns one row per learned merge: (merge_rank, p1, p2, pair_count).
    """
    # NOT persisted (measured): the rounds CHAIN off `words` rather than
    # branching in parallel, so a persist here inserts an eager cache-
    # materialization barrier that blocks pipelining and costs more than
    # the re-scans it saves (0.6 s lazy vs 0.9-4.5 s persisted at sf0.1)
    words = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # symbols ride as an ARRAY column through every round (r13): the
    # initial char split is the only string→array conversion anywhere;
    # split(word, '') ≡ the old array_join-then-split round trip
    # (verified: no trailing empties in Spark 4's empty-pattern split)
    cur = words.select(F.split(F.col("word"), "").alias("toks"), "freq")
    outs: list[DataFrame] = []
    for r in range(1, rounds + 1):
        top = _bpe_top_pair(cur)
        outs.append(
            top.select(
                F.lit(r).cast("int").alias("merge_rank"),
                "p1",
                "p2",
                "pair_count",
            )
        )
        if r < rounds:
            cur = _bpe_apply(cur, top)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# --- deterministic weighted sampling -----------------------------------------

WEIGHTED_SAMPLE_K = 100


def weighted_priority_sample(
    docs: DataFrame,
    k: int = WEIGHTED_SAMPLE_K,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weight-biased sample of k rows: each row gets priority
    u / w where u is its id's LCG uniform (split_key) and w its weight;
    the k smallest priorities win — heavier rows systematically draw
    smaller priorities, so inclusion odds grow with weight (the
    priority-sampling family; exact A-ES exponentials would need pow(),
    whose last-ulp behavior differs between libms — u/w is ONE IEEE
    division, reproducible everywhere).

    Map-only priority + global bottom-k via orderBy().limit() —
    TakeOrderedAndProject keeps k rows per partition and merges, so no
    global sort, no single reducer. Deterministic total order (priority,
    id) makes the sample reproducible across engines and partitionings.
    """
    pri = (split_key(F.col(id_col)) / F.col(weight_col).cast("double")).alias(
        "priority"
    )
    # zero/negative-weight rows are EXCLUDED (the A-ES/priority-sampling
    # convention): an unguarded u/0 raised DIVIDE_BY_ZERO under ANSI mode
    # the moment an empty doc (weight 0) reached it, and NULL priorities
    # would sort nulls-FIRST in Spark but nulls-LAST in DuckDB — the
    # filter is the one statement both engines agree on (oracle twin
    # carries the same WHERE).
    docs = docs.filter(F.col(weight_col).cast("double") > 0)
    ranked = docs.select(F.col(id_col), F.col(weight_col), pri).orderBy(
        F.col("priority").asc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("priority").asc(), F.col(id_col).asc())
    return ranked.withColumn("draw_rank", F.row_number().over(w))


# --- deterministic dataset mixing --------------------------------------------

# registered-query mix over the synthetic sources: upweight a few,
# downweight one, default 1.0 for the rest
MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 0.5}


def dataset_mixture(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted interleave of sources into ONE training
    order — the data-mixing step between corpus filtering and sequence
    packing. Each document gets a mixture position
    ``(within-source rank) / weight``: a source with weight w appears w
    times as often per unit of the merged stream (the classic
    rate-monotonic interleave), upweighting high-quality sources without
    duplication-by-copying. Unknown sources default to weight 1.

    Shape: one rank window per source key (shuffle on the group key;
    rank order is the deterministic LCG permutation of split_key, so the
    interleave is also a per-source shuffle), then the merged order is
    just ORDER BY (position, tiebreak) — consumers that stream the mix
    sort-merge it; nothing materializes a global sort until a sink asks
    for one. Emits (doc, source, src_rank, mix_pos).
    """
    w = weights if weights is not None else MIX_WEIGHTS
    bad = {k: v for k, v in w.items() if not v > 0}
    if bad:
        # fail at plan time with the offending entries, not mid-job with
        # DIVIDE_BY_ZERO (rank/weight) under ANSI
        raise ValueError(f"mixture weights must be > 0, got {bad}")
    wcol = F.lit(1.0)
    for name, weight in w.items():
        wcol = F.when(F.col(group_col) == name, F.lit(float(weight))).otherwise(
            wcol
        )
    win = Window.partitionBy(group_col).orderBy(
        split_key(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return docs.select(
        F.col(id_col),
        F.col(group_col),
        F.row_number().over(win).alias("src_rank"),
        (F.row_number().over(win).cast("double") / wcol).alias("mix_pos"),
    )


# --- vocabulary build + token-id encoding ------------------------------------

VOCAB_SIZE = 256  # registered-query vocabulary (incl. id 0 = <unk>)
IDS_PREVIEW = 32  # ids per doc surfaced by the registered query


def build_vocab(
    docs: DataFrame, vocab_size: int = VOCAB_SIZE, text_col: str = "text"
) -> DataFrame:
    """Frequency vocabulary: the top (vocab_size - 1) tokens by
    (count DESC, token ASC) get ids 1..V-1; id 0 is reserved for <unk>.
    One token-count partial-agg shuffle + a TakeOrderedAndProject cut —
    the vocabulary table is tiny and downstream encoders broadcast it."""
    counts = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(
        vocab_size - 1
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.select(
        "token", F.row_number().over(w).cast("long").alias("token_id"), "n"
    )


def tokenize_ids(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    preview: int = IDS_PREVIEW,
) -> DataFrame:
    """Encode each document to token ids under the (broadcast) vocabulary —
    the tokenize-to-ids stage every pretraining pipeline runs between text
    cleaning and sequence packing. Out-of-vocabulary tokens map to 0.

    Shape: posexplode keeps token positions, a broadcast hash join against
    the vocabulary maps ids map-side (the corpus never shuffles for the
    lookup), and per-doc ids reassemble with one groupBy(doc) sorting the
    bounded (position, id) structs. Emits (doc_id, n_tokens, oov_count,
    ids[:preview]).
    """
    if vocab is None:
        vocab = build_vocab(docs)
    pos = docs.select(
        F.col(id_col),
        F.posexplode(TH.tokens(F.col(text_col))).alias("p", "token"),
    )
    mapped = (
        pos.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
        .select(
            id_col,
            "p",
            F.coalesce(F.col("token_id"), F.lit(0)).alias("tid"),
        )
    )
    # collect only the preview-window positions (p < preview) so per-doc
    # aggregation state stays bounded however long a document runs
    return (
        mapped.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("tid") == 0).cast("long")).alias("oov_count"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("p") < preview, F.struct("p", "tid")
                        )
                    )
                ),
                lambda s: s.getField("tid"),
            ).alias("ids"),
        )
    )


# --- span-corruption mask selection ------------------------------------------

SPAN_LEN = 3        # masked span length in tokens
SPAN_EVERY = 20     # one span per 20 tokens → 15% of tokens masked


def span_corruption_masks(
    docs: DataFrame,
    span_len: int = SPAN_LEN,
    span_every: int = SPAN_EVERY,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic T5-style span-corruption mask selection: each document
    with n tokens gets ⌊n / span_every⌋ non-overlapping masked spans of
    ``span_len`` tokens (≈ span_len/span_every noise density). The k-th
    span lives in the k-th equal segment of the token range, jittered
    inside it by the LCG of (doc_id, k) — pseudo-random placement with no
    RNG state, reproducible across engines and partitionings, and
    non-overlap holds by construction (one span per disjoint segment).

    Pure integer column arithmetic + one explode over the per-doc span
    index; map-only (the shape that streams through a 100 TB corpus).
    Emits (doc_id, mask_id, span_start, span_len) with 0-based token
    offsets — the consumer applies them during example building.
    """
    n = F.size(TH.tokens(F.col(text_col)))
    # ⌊n / span_every⌋ — n ≥ 0 so trunc == floor, and IEEE int/int division
    # is correctly rounded identically in both engines
    n_spans = (n / span_every).cast("long")
    seg = F.floor(n / F.greatest(n_spans, F.lit(1))).cast("long")
    k = F.explode(F.sequence(F.lit(0), n_spans - 1))
    base = docs.select(
        F.col(id_col), n.alias("n"), n_spans.alias("ns"), seg.alias("seg"),
        k.alias("mask_id"),
    ).filter(F.col("ns") > 0)
    jitter_room = F.greatest(F.col("seg") - span_len + 1, F.lit(1))
    # pre-reduce the id term mod P before the multiply so the largest
    # intermediate is (P-1)·A < 2^62 — exact int64 at any doc_id (int64
    # products would otherwise wrap in Spark but raise in DuckDB)
    mixed = (F.col(id_col) % F.lit(SPLIT_P)) * 31 + F.col("mask_id")
    lcg = ((mixed % F.lit(SPLIT_P)) * F.lit(SPLIT_A) + F.lit(SPLIT_B)) % F.lit(
        SPLIT_P
    )
    start = F.col("mask_id") * F.col("seg") + F.pmod(lcg, jitter_room)
    return base.select(
        id_col,
        "mask_id",
        start.alias("span_start"),
        F.least(F.lit(span_len).cast("long"), F.col("seg")).alias("span_len"),
    )


HASH_DIM = 256  # feature-hashing output dimensionality


def hashed_features(
    docs: DataFrame,
    dim: int = HASH_DIM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature hashing (Weinberger '09): bag-of-words → fixed-dim sparse
    count vector with NO vocabulary pass — token t lands in slot
    polyhash(t) mod dim with sign (−1)^bit — the stateless vectorizer
    for streaming/online featurization (no fit step to version, no
    broadcast dictionary).

    Determinism: the polynomial char hash is the oracle-matched texthash
    fold; slot and sign derive from it with integer arithmetic; counts
    are integer sums.  `dim` must be a POWER OF TWO: the sign bit uses
    floor(h / dim), which is exact (dyadic) double division only then —
    otherwise Spark's double floor-div could round differently than the
    oracle's integer //.  Map-only until the (doc, slot) partial-agg — one
    shuffle whose width is ≤ dim per doc.  Returns
    (doc_id, slot, feat) sparse rows (dense assembly is a caller-side
    pivot; sparse is the scale-correct shape at dim ≫ active slots).
    """
    if dim <= 0 or dim & (dim - 1):
        raise ValueError(
            f"hashed_features: dim must be a power of two, got {dim} "
            "(sign bit uses floor(h/dim), exact only for dyadic divisors)"
        )
    from cdc_stream_processor_spark.functions import texthash as TH

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    h = TH.char_polyhash(F.col("term"))
    signed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(dim)).alias("slot"),
        # sign bit from the next hash bit up — decorrelated from the slot
        (F.lit(1) - 2 * F.pmod(F.floor(h / F.lit(dim)), F.lit(2)))
        .cast("long")
        .alias("sign"),
    )
    return (
        signed.groupBy("doc_id", "slot")
        .agg(F.sum("sign").alias("feat"))
        .filter(F.col("feat") != 0)
    )


KFOLD_K = 5


def kfold_assign(
    docs: DataFrame, k: int = KFOLD_K, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    polyhash(id) mod k — map-only, engine-reproducible, no shuffle; each
    fold's size converges to n/k.  Returns input columns + fold."""
    from cdc_stream_processor_spark.functions import texthash as TH

    h = TH.char_polyhash(F.col(id_col).cast("string"))
    return docs.withColumn("fold", F.pmod(h, F.lit(k)).cast("int"))


# --- shingle novelty (corpus growth / diminishing-returns curve) --------------

NOVELTY_BUCKET = 50  # docs per acquisition bucket in novelty_curve


def shingle_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document novelty: of a document's distinct word k-grams, the
    fraction FIRST INTRODUCED by it under doc_id acquisition order (its
    shingle's corpus-wide min doc_id is itself).  The standard "is new
    data still adding information?" curation signal.  Documents with
    fewer than k tokens have no shingles and emit no row.

    Returns (doc_id, n_shingles, n_novel, novelty_ppm) with novelty_ppm
    the exact integer floor(n_novel·1e6 / n_shingles).

    Plan: distinct-shingle explode → min(doc_id) per shingle (one
    combinable shuffle) → per-doc count agg (second shuffle).  The
    first-occurrence table is shingle-vocabulary-sized; no join back to
    the corpus is needed because the explode carries doc_id.

    ensure_parallelism matters here: the shingle build is an interpreted
    higher-order lambda per token — on a single-file scan it would run
    one-threaded (measured 20 s → sub-second at sf0.1).  The explode is
    persisted because BOTH consumers (first-occurrence agg + the join
    back) branch from it in parallel and the lambda pass dominates
    (A/B at sf0.1: 2.5 s lazy → 1.2 s persisted, best-of-2)."""
    sh = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(TH.shingles(F.col(text_col), k)).alias("g"),
        )
        .persist()
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000L div n_shingles").alias("novelty_ppm"),
        )
    )


def novelty_curve(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bucket: int = NOVELTY_BUCKET,
) -> DataFrame:
    """Corpus growth curve: bucket documents by acquisition order
    (doc_id div bucket) and count how many distinct word k-grams each
    bucket introduces first — the diminishing-returns view of continued
    collection.  Returns (bucket, n_first_seen, cum_first_seen).

    Plan: shingle explode → min(doc_id) per shingle → bucket groupBy.
    The cumulative window is partition-less but runs on the BUCKET table
    (corpus_size / bucket rows — aggregate scale, see SCALE.md)."""
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.shingles(F.col(text_col), k)).alias("g"),
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (
        first.select(
            F.expr(f"first_doc div {bucket}").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_first_seen"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "bucket",
        "n_first_seen",
        F.sum("n_first_seen").over(w).alias("cum_first_seen"),
    )


# --- greedy max-coverage (facility-location) selection ------------------------


def max_coverage_sample(
    docs: DataFrame,
    k: int = 5,
    gram: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact lazy-free greedy max-coverage selection (the classic
    (1 - 1/e)-approximate submodular maximizer, Nemhauser et al. 1978):
    pick k documents that together cover the most distinct coverage
    units — tokens (gram=1) or word gram-shingles (gram>1) — one argmax
    per round.  This is the set-cover member of the coreset
    family — ``kcenter_centers`` optimizes geometric diversity in
    embedding space; this optimizes vocabulary coverage in token space
    (the facility-location objective with unit token weights).

    Per round: ONE corpus-scale pass — a broadcast LEFT ANTI join of the
    (doc, token) table against the covered-token set (bounded by
    k · max-tokens-per-doc, the same bounded-driver-sketch class as the
    Bloom decontaminator's word list), a map-side-combined count per doc,
    and a ONE-ROW argmax probe (gain desc, doc_id asc) — plus a parquet
    POINT-LOOKUP of the winner's tokens on the source docs (doc_id
    equality pushes down to the scan; r13 — replaces a second full pass
    over the cached (doc, token) table per round).  The (doc, token)
    table is built once and persisted across the k rounds.  Documents
    whose remaining gain is zero drop out of candidacy (greedy halts
    early when the corpus is exhausted, matching the oracle's empty CTE
    leg).

    Returns (rank, doc_id, gain, covered_total): gain is the number of
    newly covered tokens at selection time; covered_total the cumulative
    distinct-token coverage after the pick.

    100 TB: k shuffles total (one count-by-doc per round, map-side
    partials), zero corpus-scale collects; the anti join never shuffles
    the corpus side.
    """
    spark = docs.sparkSession
    units = (
        TH.shingles(F.col(text_col), gram)
        if gram > 1
        else F.array_distinct(TH.tokens(F.col(text_col)))
    )
    # HASH-partition by doc_id at build time (r13, guide §2.4): the
    # greedy argmax groups by doc_id every round, and a persisted
    # HashPartitioning(doc_id) survives the per-round anti-join filter,
    # so all k gain-count aggregations become exchange-free single-stage
    # jobs — one corpus-scale shuffle up front replaces k of them.
    # (ensure_parallelism's keyless round-robin gave the same local
    # parallelism but left every round paying the groupBy shuffle.)
    dt = cache_by_key(
        docs.select(F.col(id_col).alias("doc_id"), F.explode(units).alias("tok")),
        "doc_id",
    )
    try:
        chosen: list[tuple[int, int, int, int]] = []
        covered: set[str] = set()
        for r in range(k):
            cand = dt
            if covered:
                cov_df = spark.createDataFrame(
                    [(t,) for t in sorted(covered)], "tok string"
                )
                cand = cand.join(F.broadcast(cov_df), "tok", "left_anti")
            if chosen:
                cand = cand.filter(
                    ~F.col("doc_id").isin([c[1] for c in chosen])
                )
            top = (
                cand.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("gain"))
                .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            sel_id, sel_gain = top[0].doc_id, top[0].gain
            # fetch the winner's tokens with a PARQUET POINT-LOOKUP on the
            # source docs (r13, guide §6): the doc_id equality pushes down
            # to the scan (PushedFilters → row-group stats pruning at
            # scale) and `units` is evaluated for the ONE surviving row —
            # replacing r12's full filter pass over the cached corpus-scale
            # (doc, tok) table. Same deterministic expression, same token
            # multiset, and the driver-side set-diff against `covered` is
            # unchanged (bounded by max-tokens-per-doc).
            sel_toks = {
                row.tok
                for row in docs.filter(F.col(id_col) == F.lit(sel_id))
                .select(F.explode(units).alias("tok"))
                .collect()
            }
            covered.update(sel_toks - covered)
            chosen.append((r, sel_id, sel_gain, len(covered)))
        return spark.createDataFrame(
            chosen,
            "rank long, doc_id long, gain long, covered_total long",
        )
    finally:
        dt.unpersist()


# --- greedy longest-match subword segmentation ---------------------------------

PIECE_MIN = 2   # shortest learned piece (single chars are the implicit floor)
PIECE_MAX = 4   # longest learned piece
SUBWORD_V = 32  # learned-vocabulary size (top-V substrings by corpus freq)


def subword_vocab(
    docs: DataFrame,
    text_col: str = "text",
    v: int = SUBWORD_V,
    pmin: int = PIECE_MIN,
    pmax: int = PIECE_MAX,
) -> DataFrame:
    """Learn a subword-piece vocabulary: the top-`v` substrings of length
    [pmin, pmax] by total corpus occurrence count (ties on piece text
    ascending) — the WordPiece/unigram-LM tokenizer-TRAINING analog of
    ``bpe_merges``, counted exactly in one plan instead of iteratively
    merged.

    Shuffle discipline (100 TB): the corpus-scale pass is ONE word-count
    shuffle (same as build_vocab); the substring explode then runs at
    VOCABULARY scale — distinct words × O(len·(pmax-pmin+1)) candidate
    pieces — and the top-v is a TakeOrdered heap, never a global sort.

    Returns (piece, freq) — at most `v` rows.
    """
    words = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # (start, len) pairs kept only when the piece fits entirely inside the
    # word — substring() would otherwise silently truncate at the word end
    # and alias a shorter piece.
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.transform(
                    F.sequence(F.lit(pmin), F.lit(pmax)),
                    lambda l: F.struct(i.alias("i"), l.alias("l")),
                ),
            )
        ),
        lambda s: s["i"] + s["l"] - F.lit(1) <= F.length("word"),
    )
    pieces = words.select(
        F.explode(
            F.transform(pairs, lambda s: F.col("word").substr(s["i"], s["l"]))
        ).alias("piece"),
        "freq",
    )
    return (
        pieces.groupBy("piece")
        .agg(F.sum("freq").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("piece").asc())
        .limit(v)
    )


def subword_segment(
    docs: DataFrame,
    text_col: str = "text",
    v: int = SUBWORD_V,
    pmin: int = PIECE_MIN,
    pmax: int = PIECE_MAX,
) -> DataFrame:
    """Greedy longest-match-first subword segmentation (the WordPiece
    inference rule) of every distinct corpus word against the learned
    ``subword_vocab``: at each position take the longest vocabulary piece
    that matches, falling back to the single character.  Deterministic —
    vocabulary, match order, and tie-breaks are all total orders — so the
    DuckDB oracle replays it exactly (best-step table + recursive walk).

    Plan shape: segmentation runs at VOCABULARY scale over the distinct-
    word table with the v-piece vocabulary held in the kernel closure
    (bounded driver sketch, v rows — the CMS/IVF class). The kernel is an
    Arrow-batched ``mapInPandas`` pass: per-word sequential scanning is
    genuinely imperative, the documented Pandas-UDF slot. Applying the
    segmentation corpus-wide is then a broadcast map join on `word` —
    the corpus itself never shuffles.

    Returns (word, freq, n_pieces, seg) with `seg` the space-joined
    pieces.
    """
    vocab = frozenset(
        r.piece for r in subword_vocab(docs, text_col, v, pmin, pmax).collect()
    )

    def kernel(batches):
        for pdf in batches:
            segs: list[str] = []
            ns: list[int] = []
            for w in pdf["word"]:
                pos, parts = 0, []
                while pos < len(w):
                    for ln in range(min(pmax, len(w) - pos), pmin - 1, -1):
                        if w[pos : pos + ln] in vocab:
                            parts.append(w[pos : pos + ln])
                            pos += ln
                            break
                    else:
                        parts.append(w[pos])
                        pos += 1
                segs.append(" ".join(parts))
                ns.append(len(parts))
            yield pdf.assign(n_pieces=ns, seg=segs)

    words = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.mapInPandas(
        kernel, "word string, freq long, n_pieces long, seg string"
    )
