"""Substring-level document fingerprinting: suffix-array longest-repeat
statistics and MOSS-style winnowing fingerprints.

Two public-literature kernels the LLM-data-curation pipeline needs beyond
token/shingle dedup (``operators.dedup`` / ``operators.corpus``):

- **Longest repeated substring** (suffix array + Kasai LCP): the exact
  within-document repetition signal behind "remove documents that are
  mostly one repeated block" (the exact-substring line of Lee et al.,
  *Deduplicating Training Data Makes Language Models Better*, ACL'22 —
  complementing ``corpus.dup_spans``, which detects CROSS-document shared
  windows at one fixed span).  Reported quantized to a power-of-two
  ladder so an independent SQL oracle can verify it exactly: a duplicated
  L-gram exists iff LRS >= L, so probing the ladder lengths reproduces
  ``max{s in ladder : s <= LRS}`` without computing suffix arrays in SQL.
- **Winnowing** (Schleimer, Wilkerson, Aiken, SIGMOD'03): the local
  document-fingerprinting scheme — hash every char k-gram, slide a
  w-window over the hash sequence, keep each window's minimum (rightmost
  on ties).  Guarantees any shared substring of length >= k + w - 1
  produces a shared fingerprint, at ~2/(w+1) sample density.

Determinism contract (oracle-checkable): pure integer arithmetic — the
polynomial char hash ``(acc*31 + codepoint) % P`` (texthash twins), an
injective (hash, position) encoding for the rightmost-tie rule, and
equality-only codepoint comparisons in the LCP scan.  No floats anywhere.

Scale shape (100 TB): both kernels are per-document ``mapInPandas`` — a
single Arrow-batched map over the corpus with NO shuffle; cost is
O(n log n) per doc (prefix-doubling suffix array) / O(n) (winnowing).
The pair join over winnowing fingerprints is an inverted-index equi-join
with a hot-fingerprint document-frequency cutoff, the same candidate
bound as ``text.containment_pairs`` — never an all-pairs product.

Reference parity note: the reference engine (Kafka Streams topology,
ABBankTopology.java) has no substring analytics; these operators belong
to the LLM-pipeline surface the brief adds on top of reference parity.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions.fasthash import rolling_horner_batch
from cdc_stream_processor_spark.functions.texthash import P_FACTOR, P_MOD
from cdc_stream_processor_spark.plans.layout import cache_by_key, ensure_parallelism

# LRS is reported as the largest ladder scale it reaches (0 = below all).
LRS_LADDER = (4, 8, 16, 32, 64)

# Winnowing parameters: char k-grams, window w. Any shared substring of
# length >= WIN_K + WIN_W - 1 = 11 chars yields a shared fingerprint.
WIN_K = 8
WIN_W = 4
# Injective (hash, pos) encoding base: enc = h * WIN_POS_M + (WIN_POS_M-1-pos).
# h < P_MOD < 2^30 and pos < 2^20 → enc < 2^50, exact in int64. Documents
# longer than WIN_POS_M k-grams would alias positions; guarded in-kernel.
WIN_POS_M = 1 << 20
# Pair-join bounds: fingerprints shared by more docs than this are
# boilerplate (dropped from candidate generation, like hot shingles);
# pairs need at least this many shared fingerprints to emit.  Tuned on
# the templated test corpus (its fingerprint document-frequency
# distribution is bimodal with a df≈20-40 boilerplate hump): df<=16
# keeps only discriminative fingerprints, >=4 shared marks a real
# near-dup candidate rather than shared phrasing.
WIN_HOT_DF = 16
WIN_MIN_SHARED = 4


def _codepoints(text: str | None) -> np.ndarray:
    if not text:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )


def _lrs_length(cp: np.ndarray) -> int:
    """Exact longest-repeated-substring length (overlaps allowed): the max
    LCP between lexicographically adjacent suffixes.  Prefix-doubling
    suffix array (O(n log n), fully vectorized) + Kasai's LCP scan (O(n)
    amortized)."""
    n = len(cp)
    if n < 2:
        return 0
    rank = np.unique(cp, return_inverse=True)[1].astype(np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r_s, k_s = rank[order], key2[order]
        bump = np.empty(n, dtype=np.int64)
        bump[0] = 0
        bump[1:] = (r_s[1:] != r_s[:-1]) | (k_s[1:] != k_s[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(bump)
        rank = new_rank
        if rank.max() == n - 1:
            break
        k *= 2
    sa = np.empty(n, dtype=np.int64)
    sa[rank] = np.arange(n)
    # Kasai: h decreases by at most 1 per step → total work O(n)
    best = 0
    h = 0
    for i in range(n):
        r = rank[i]
        if r == 0:
            h = 0
            continue
        j = sa[r - 1]
        while i + h < n and j + h < n and cp[i + h] == cp[j + h]:
            h += 1
        if h > best:
            best = h
        if h:
            h -= 1
    return best


def quantize_lrs(lrs: int, ladder: tuple[int, ...] = LRS_LADDER) -> int:
    """Largest ladder scale <= lrs, else 0 (== 'a duplicated s-gram
    exists' probed at each ladder length s)."""
    out = 0
    for s in ladder:
        if s <= lrs:
            out = s
    return out


def longest_repeat_scale(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, dup_scale[, extra_cols...]): per-document longest repeated
    substring, quantized to LRS_LADDER.  ``extra_cols`` pass through the
    kernel (e.g. ``("source",)``) so rollups need no join back.

    Plan: ONE Arrow mapInPandas over the scan — zero shuffles; the exact
    suffix-array work is per-doc and embarrassingly parallel."""
    extras = list(extra_cols)
    schema = "doc_id long, dup_scale long" + "".join(
        f", {c} string" for c in extras
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scales = [
                quantize_lrs(_lrs_length(_codepoints(t)))
                for t in pdf[text_col]
            ]
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "dup_scale": pd.Series(scales, dtype="int64", index=pdf.index),
            }
            for c in extras:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    cols = docs.select(id_col, text_col, *extras)
    return ensure_parallelism(cols).mapInPandas(compute, schema=schema)


def lrs_by_source(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-source repetition rollup: doc counts, how many documents carry a
    duplicated >=4-gram, and the max / sum of their ladder scales.  Pure
    integer aggregate over the shuffle-free kernel — one groupBy shuffle
    total, partial-agg combined map-side."""
    per_doc = longest_repeat_scale(
        docs, text_col, id_col, extra_cols=("source",)
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("dup_scale") > 0).cast("long")).alias("n_dup_docs"),
        F.max("dup_scale").alias("max_dup_scale"),
        F.sum("dup_scale").alias("sum_dup_scale"),
    )


def _winnow(cp: np.ndarray) -> np.ndarray:
    """Selected fingerprint encodings for one document's codepoints.
    enc = h*M + (M-1-pos): the min over a window is the min hash with
    RIGHTMOST position on ties (Schleimer et al. §4 'rightmost minimal'),
    because larger pos → smaller encoding among equal hashes."""
    h = rolling_horner_batch(cp % P_MOD, WIN_K)
    n = len(h)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n >= WIN_POS_M:  # position aliasing guard (docs > 1M chars)
        raise ValueError(
            f"document has {n} k-grams >= WIN_POS_M={WIN_POS_M}; "
            "chunk the document first (corpus.chunk_documents)"
        )
    enc = h * WIN_POS_M + (WIN_POS_M - 1 - np.arange(n, dtype=np.int64))
    if n <= WIN_W:
        return np.asarray([enc.min()], dtype=np.int64)
    mins = np.lib.stride_tricks.sliding_window_view(enc, WIN_W).min(axis=1)
    return np.unique(mins)


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_h: bool = False,
) -> DataFrame:
    """(doc_id, pos, h): winnowing fingerprint set per document — char
    WIN_K-gram polynomial hashes, WIN_W-window minima, rightmost ties.
    ``pos`` is the 1-based k-gram start offset. Documents shorter than
    WIN_K chars have no k-grams and emit nothing.

    ``dedup_h=True`` returns (doc_id, h) with the per-document DISTINCT
    hash set instead (np.unique inside the kernel). Because every
    document's text sits in exactly one kernel row, per-doc dedup IS the
    global distinct of (doc_id, h) — consumers that only need the
    distinct hash set (winnowing_overlap_pairs) skip a corpus-scale
    Exchange+HashAggregate pair entirely (r13, guide §2.4).

    Plan: ONE Arrow mapInPandas, zero shuffles; O(n) per document."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[np.ndarray] = []
            encs: list[np.ndarray] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sel = _winnow(_codepoints(text))
                if dedup_h:
                    sel = np.unique(sel // WIN_POS_M)
                if len(sel):
                    ids.append(np.full(len(sel), doc_id, dtype=np.int64))
                    encs.append(sel)
            if dedup_h:
                if ids:
                    yield pd.DataFrame(
                        {"doc_id": np.concatenate(ids), "h": np.concatenate(encs)}
                    )
                else:
                    yield pd.DataFrame(
                        {
                            "doc_id": pd.Series(dtype="int64"),
                            "h": pd.Series(dtype="int64"),
                        }
                    )
            elif ids:
                di = np.concatenate(ids)
                e = np.concatenate(encs)
                yield pd.DataFrame(
                    {
                        "doc_id": di,
                        "pos": WIN_POS_M - (e % WIN_POS_M),  # back to 1-based
                        "h": e // WIN_POS_M,
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "pos": pd.Series(dtype="int64"),
                        "h": pd.Series(dtype="int64"),
                    }
                )

    cols = docs.select(id_col, text_col)
    schema = "doc_id long, h long" if dedup_h else "doc_id long, pos long, h long"
    return ensure_parallelism(cols).mapInPandas(compute, schema=schema)


def winnowing_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = WIN_MIN_SHARED,
    hot_df: int = WIN_HOT_DF,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= min_shared
    distinct winnowing fingerprint HASHES — the MOSS overlap detector.

    Scale shape: inverted-index equi-join on the fingerprint hash, with
    fingerprints appearing in more than ``hot_df`` documents dropped
    before the join (boilerplate fingerprints would otherwise contribute
    O(df²) candidate pairs; the cutoff bounds per-key fanout exactly like
    the hot-shingle cutoff in ``text.containment_pairs``).  Never an
    all-pairs product; one shuffle for the index, one for the pair agg."""
    # persist: the distinct fingerprint table feeds THREE parallel
    # consumers (the df filter + both join sides) and contains the Arrow
    # kernel — without it, exprId re-aliasing defeats ReuseExchange and
    # the winnowing kernel runs 4× (audited: arrow=4→1). The distinct is
    # computed INSIDE the kernel (dedup_h: per-doc np.unique == global
    # distinct because each doc occupies one kernel row), which removes
    # the corpus-scale Exchange+HashAggregate the .distinct() used to
    # plan here (r13, guide §2.4).
    # HASH-partition the kernel output by h before caching (r13, guide
    # §2.4): the df cutoff groups by h and the inverted-index join keys
    # both sides on h, so a persisted HashPartitioning(h) makes all three
    # downstream exchanges vanish for the price of one up-front shuffle
    # (plan: per-query Exchange count 3 → 1 on this subtree).
    fp = cache_by_key(
        winnowing_fingerprints(docs, text_col, id_col, dedup_h=True), "h"
    )
    cold = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= hot_df)
        .select("h")
    )
    fpc = fp.join(cold, "h")
    a = fpc.select(F.col("doc_id").alias("doc_a"), "h")
    b = fpc.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


__all__ = [
    "LRS_LADDER",
    "WIN_K",
    "WIN_W",
    "WIN_POS_M",
    "WIN_HOT_DF",
    "WIN_MIN_SHARED",
    "longest_repeat_scale",
    "lrs_by_source",
    "winnowing_fingerprints",
    "winnowing_overlap_pairs",
    "quantize_lrs",
    "P_FACTOR",
    "P_MOD",
]
