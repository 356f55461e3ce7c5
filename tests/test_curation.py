"""Planted-case tests for the round-7 curation operators: suffix-array
longest-repeat stats, winnowing fingerprints, trigram LMs, shingle
novelty, and the pipeline rollups."""

from __future__ import annotations

import numpy as np
import pytest

from cdc_stream_processor_spark.operators import corpus as C
from cdc_stream_processor_spark.operators import fingerprint as FP
from cdc_stream_processor_spark.operators import text as T


# --- suffix-array LRS kernel --------------------------------------------------


def _brute_lrs(s: str) -> int:
    n = len(s)
    for length in range(n - 1, 0, -1):
        seen = set()
        for i in range(n - length + 1):
            sub = s[i : i + length]
            if sub in seen:
                return length
            seen.add(sub)
    return 0


def test_lrs_kernel_matches_brute_force():
    """Prefix-doubling SA + Kasai equals the O(n³) definition on random
    small-alphabet strings (worst case for repeats), including overlaps
    ('aaaa' → LRS 3) and unicode codepoints."""
    import random

    rnd = random.Random(11)
    for _ in range(200):
        s = "".join(rnd.choice("ab") for _ in range(rnd.randint(0, 30)))
        assert FP._lrs_length(FP._codepoints(s)) == _brute_lrs(s), s
    assert FP._lrs_length(FP._codepoints("aaaa")) == 3
    assert FP._lrs_length(FP._codepoints("")) == 0
    assert FP._lrs_length(FP._codepoints("x")) == 0
    assert FP._lrs_length(FP._codepoints("日本日本語")) == 2


def test_quantize_lrs_ladder():
    assert FP.quantize_lrs(0) == 0
    assert FP.quantize_lrs(3) == 0
    assert FP.quantize_lrs(4) == 4
    assert FP.quantize_lrs(31) == 16
    assert FP.quantize_lrs(64) == 64
    assert FP.quantize_lrs(1000) == 64


def test_longest_repeat_scale_planted(spark):
    """A doc that is one 10-char block repeated → LRS >= 10 → scale 8; a
    no-repeat doc (all-distinct chars) → 0; passthrough column kept."""
    rows = [
        (1, "0123456789" * 4, "a"),  # LRS = 30 (overlap) → scale 16
        (2, "abcdefghij", "a"),  # all distinct → 0
        (3, "xyxy", "b"),  # LRS = 2 → below ladder → 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: r
        for r in FP.longest_repeat_scale(
            df, extra_cols=("source",)
        ).collect()
    }
    assert got[1].dup_scale == 16
    assert got[2].dup_scale == 0
    assert got[3].dup_scale == 0
    assert got[1].source == "a" and got[3].source == "b"


def test_lrs_by_source_rollup(spark):
    rows = [
        (1, "0123456789" * 4, "a"),
        (2, "abcdefghij", "a"),
        (3, "qwert" * 20, "b"),  # period-5 repeat of len 100 → LRS 95 → 64
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in FP.lrs_by_source(df).collect()}
    assert got["a"].n_docs == 2 and got["a"].n_dup_docs == 1
    assert got["a"].max_dup_scale == 16 and got["a"].sum_dup_scale == 16
    assert got["b"].max_dup_scale == 64


# --- winnowing ----------------------------------------------------------------


def _brute_winnow(s: str) -> set[tuple[int, int]]:
    """(pos_1based, hash) per the SIGMOD'03 definition: window minima,
    rightmost on hash ties."""
    k, w = FP.WIN_K, FP.WIN_W
    cps = [ord(c) for c in s]
    hs = []
    for i in range(len(cps) - k + 1):
        acc = 0
        for c in cps[i : i + k]:
            acc = (acc * FP.P_FACTOR + c) % FP.P_MOD
        hs.append(acc)
    if not hs:
        return set()
    out = set()
    n = len(hs)
    for j in range(max(n - w + 1, 1)):
        win = hs[j : j + w]
        m = min(win)
        # rightmost occurrence of the min within the window
        ri = max(i for i, h in enumerate(win) if h == m)
        out.add((j + ri + 1, m))
    return out


def test_winnow_kernel_matches_definition():
    import random

    rnd = random.Random(5)
    for _ in range(200):
        s = "".join(rnd.choice("ab c") for _ in range(rnd.randint(0, 50)))
        sel = FP._winnow(FP._codepoints(s))
        got = {
            (int(FP.WIN_POS_M - (e % FP.WIN_POS_M)), int(e // FP.WIN_POS_M))
            for e in sel
        }
        assert got == _brute_winnow(s), s


def test_winnowing_guarantee(spark):
    """Schleimer et al.'s guarantee: two docs sharing a substring of
    length >= k + w - 1 share at least one fingerprint hash."""
    shared = "the quick brown fox jumps"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "cccc " + shared + " dddd"),
        (3, "totally unrelated words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = FP.winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[1] & by_doc[2]  # shared substring → shared fingerprint
    # doc 3 shares nothing that long with doc 1
    assert len(by_doc[1] & by_doc[3]) == 0


def test_winnowing_short_doc_edges(spark):
    rows = [(1, "ab"), (2, "exactly8"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = FP.winnowing_fingerprints(df).collect()
    docs = {r.doc_id for r in got}
    assert docs == {2}  # only the doc with >= WIN_K chars fingerprints
    assert len(got) == 1 and got[0].pos == 1


def test_winnowing_overlap_pairs_planted(spark):
    """Two near-identical docs pair up; the hot-fingerprint cutoff drops
    boilerplate shared by every doc."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(1, 3)] + [
        (i, f"unique{i} " * 6) for i in range(3, 6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = FP.winnowing_overlap_pairs(df, min_shared=2, hot_df=16).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


# --- trigram LM + stupid backoff ----------------------------------------------


def test_trigram_lm_score_hand_computed(spark):
    """Corpus 'a b c' + 'a b d': trigrams (a,b,c) and (a,b,d) each c3=1,
    ctx(a,b)=2, V=4 → sp = floor(2e9/6) per doc, one trigram each."""
    rows = [(1, "a b c"), (2, "a b d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.trigram_lm_score(df).collect()}
    expected = float(int(2 * T.TRIGRAM_SCALE / 6))
    for i in (1, 2):
        assert got[i].n_trigrams == 1
        assert got[i].mean_scaled_p == expected


def test_stupid_backoff_fires_on_unseen_trigram(spark):
    """Train 'a b c a b c'; eval 'a b d' (trigram unseen, bigram (b,d)
    unseen, unigram d unseen → third backoff with c3 null → 0 is wrong:
    w3=d unseen → score 0 path) and 'b c a' (seen trigram)."""
    train = spark.createDataFrame(
        [(1, "a b c a b c")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(10, "b c a"), (11, "a b d")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in T.stupid_backoff_score(train, ev).collect()}
    # 'b c a': trigram (b,c,a) occurs once in train; bigram (b,c) occurs
    # twice → s3 = floor(1e9 * 1/2)
    assert got[10].n_backoff == 0
    assert got[10].mean_scaled_s == float(T.TRIGRAM_SCALE // 2)
    # 'a b d': trigram (a,b,d) unseen → backoff; bigram (b,d) unseen →
    # second backoff on unigram d — unseen too → score 0
    assert got[11].n_backoff == 1
    assert got[11].mean_scaled_s == 0.0


def test_stupid_backoff_bigram_and_unigram_paths(spark):
    """eval 'c a b': trigram (c,a,b) seen once... construct instead a
    case hitting the bigram path: train has bigram (b,c) but not trigram
    (x,b,c)."""
    train = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    # trigram (e, b, c) unseen; bigram (b, c) seen once, unigram b count 1
    ev = spark.createDataFrame([(10, "e b c")], "doc_id long, text string")
    got = T.stupid_backoff_score(train, ev).collect()[0]
    s2 = int(1 * T.TRIGRAM_SCALE / 1)  # c23=1, c2(b)=1
    expect = int(T.BACKOFF_NUM * s2 / T.BACKOFF_DEN)
    assert got.n_backoff == 1
    assert got.mean_scaled_s == float(expect)
    # unigram path: trigram+bigram unseen, unigram seen
    ev2 = spark.createDataFrame([(20, "z z c")], "doc_id long, text string")
    got2 = T.stupid_backoff_score(train, ev2).collect()[0]
    s1 = int(1 * T.TRIGRAM_SCALE / 5)  # c3(c)=1, N=5
    expect2 = int(4 * int(4 * s1 / 10) / 10)
    assert got2.mean_scaled_s == float(expect2)


# --- novelty ------------------------------------------------------------------


def test_shingle_novelty_planted(spark):
    """Doc 1 introduces everything; doc 2 repeats doc 1 (novelty 0); doc 3
    is half-new."""
    rows = [
        (1, "a b c d"),  # shingles: abc, bcd (both novel)
        (2, "a b c d"),  # same shingles → novelty 0
        (3, "a b c x y z"),  # abc old; bcx, cxy, xyz new → 3/4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in C.shingle_novelty(df).collect()}
    assert got[1].n_novel == 2 and got[1].novelty_ppm == 1_000_000
    assert got[2].n_novel == 0 and got[2].novelty_ppm == 0
    assert got[3].n_shingles == 4 and got[3].n_novel == 3
    assert got[3].novelty_ppm == 750_000


def test_novelty_curve_buckets_and_cumsum(spark):
    rows = [
        (0, "a b c"),  # bucket 0 introduces abc
        (49, "a b c d"),  # bucket 0: bcd new
        (50, "a b c"),  # bucket 1: nothing new
        (120, "x y z"),  # bucket 2: xyz new
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.bucket: r for r in C.novelty_curve(df, bucket=50).collect()}
    assert got[0].n_first_seen == 2
    assert 1 not in got  # bucket with no first-seen shingles emits no row
    assert got[2].n_first_seen == 1
    assert got[2].cum_first_seen == 3


# --- quality pipeline / ttr / pack efficiency ---------------------------------


def test_quality_pipeline_reason_precedence(spark, sf_dir):
    from cdc_stream_processor_spark.queries_curation import (
        q_quality_pipeline_keep,
    )

    out = q_quality_pipeline_keep(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 500
    reasons = {r.reason for r in rows}
    assert reasons <= {
        "exact_dup", "word_count", "mean_word_len", "symbol_ratio",
        "alpha_ratio", "stopwords", "keep",
    }
    for r in rows:
        assert r.keep == (r.reason == "keep")


def test_ttr_by_source_hand_computed(spark):
    rows = [
        (1, "a a b", "s1"),
        (2, "a c", "s1"),  # s1: tokens 5, types {a,b,c}=3
        (3, "x x x x", "s2"),  # s2: tokens 4, types 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in T.ttr_by_source(df).collect()}
    assert got["s1"].n_tokens == 5 and got["s1"].n_types == 3
    assert got["s1"].ttr_ppm == 600_000
    assert got["s2"].ttr_ppm == 250_000


def test_pack_efficiency_planted(spark):
    """Two docs of 40 tokens in one source with capacity 64: pack 0 holds
    doc1 + 24 tokens of doc2 (straddles), total 80 over 2 packs → fill
    625000 ppm."""
    from cdc_stream_processor_spark.queries_curation import q_pack_efficiency

    t40 = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, t40, "s"), (2, t40, "s")], "doc_id long, text string, source string"
    )
    packed = C.pack_sequences(df)
    rows = {r.doc_id: r for r in packed.collect()}
    assert rows[2].straddles  # doc 2 crosses the pack boundary
    # efficiency rollup over the planted frame (same formula as the
    # registered query, which goes through the sf loader)
    from pyspark.sql import functions as F

    eff = (
        packed.groupBy("source")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddles"),
        )
        .select(
            F.expr(
                f"(total_tokens + {C.PACK_CAPACITY} - 1)"
                f" div {C.PACK_CAPACITY}"
            ).alias("n_packs"),
            F.expr(
                f"total_tokens * 1000000L div "
                f"(((total_tokens + {C.PACK_CAPACITY} - 1)"
                f" div {C.PACK_CAPACITY}) * {C.PACK_CAPACITY})"
            ).alias("fill_ppm"),
            "n_straddles",
        )
        .collect()[0]
    )
    assert eff.n_packs == 2  # 80 tokens / 64 capacity
    assert eff.fill_ppm == 625_000
    assert eff.n_straddles == 1


def test_lm_quality_calibration_invariants(spark, sf_dir):
    """Bins lie in [0, CAL_BINS); every scoreable doc is counted exactly
    once; keep_rate is the exact count ratio; score ranges nest inside
    their bin's half-open interval ordering."""
    from cdc_stream_processor_spark.sources import batch as B

    docs = B.load_table(spark, sf_dir, "documents")
    out = sorted(
        T.lm_quality_calibration(docs).collect(), key=lambda r: r.lm_bin
    )
    assert out and all(0 <= r.lm_bin < T.CAL_BINS for r in out)
    n_scoreable = (
        T.bigram_lm_score(docs).join(
            T.gopher_quality(docs).select("doc_id"), "doc_id"
        )
    ).count()
    assert sum(r.n_docs for r in out) == n_scoreable
    for r in out:
        assert r.keep_rate == r.n_keep / r.n_docs
        assert r.score_min <= r.score_max
    # bins are value-ordered: each bin's max stays below the next bin's min
    for a, b in zip(out, out[1:]):
        assert a.score_max < b.score_min


# --- greedy max-coverage selection --------------------------------------------


def test_max_coverage_greedy_hand_computed(spark):
    """Planted universe where greedy is forced through a known order:
    doc 1 covers {a b c d} (gain 4); docs 2 ({e g}) and 3 ({e f}) then
    tie at residual gain 2 and doc 2 wins on ascending doc_id; doc 3
    ({f}) and doc 10 ({f}) tie at gain 1 and doc 3 wins; doc 4 (subset
    of doc 1) and doc 10 (exhausted) never gain and are dropped."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a e g"),
            (3, "e f a"),
            (4, "b c"),
            (10, "e f"),
        ],
        "doc_id long, text string",
    )
    out = C.max_coverage_sample(docs, k=5, gram=1).collect()
    assert [(r.rank, r.doc_id, r.gain, r.covered_total) for r in out] == [
        (0, 1, 4, 4),
        (1, 2, 2, 6),
        (2, 3, 1, 7),
    ]


def test_max_coverage_gram2_shingle_units(spark):
    """gram=2 covers word bigrams: 'a b c' has units {'a b','b c'};
    a doc with the same unigrams in different order covers new units."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")],
        "doc_id long, text string",
    )
    out = C.max_coverage_sample(docs, k=2, gram=2).collect()
    assert [(r.rank, r.doc_id, r.gain, r.covered_total) for r in out] == [
        (0, 1, 2, 2),
        (1, 2, 2, 4),
    ]


def test_shingles_fold_path_survives_short_docs(spark):
    """Regression: a corpus containing sub-k-token documents (empty, 1-2
    tokens, NULL) must not crash ANY consumer of the Catalyst shingles()
    expression. Pre-fix, sequence(1, n-k+1) REVERSED into [1, 0] for
    short docs (Spark's default step is -1 when stop < start) and
    element_at indexed past the token array — one short doc killed the
    whole query under ANSI mode, while the DuckDB twin (generate_series
    is empty-safe) and the Arrow kernel (shingles_py) both returned
    empty. Found by the containment_pairs hypothesis differential."""
    from cdc_stream_processor_spark.operators import corpus as C
    from cdc_stream_processor_spark.operators import dedup as D

    rows = [
        (1, "a"),  # 1 token
        (2, ""),  # empty
        (3, None),  # NULL
        (4, "x y"),  # k-1 tokens
        (5, "one two three four five"),  # normal
        (6, "one two three four five"),  # exact dup of 5
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # containment_pairs: the fold path is unconditional here
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(docs, threshold=0.5).collect()
    }
    assert pairs == {(5, 6): 1.0, (6, 5): 1.0}

    # shingle_novelty / novelty_curve: explode TH.shingles directly
    nov = {r.doc_id: r for r in C.shingle_novelty(docs).collect()}
    assert set(nov) == {5, 6}  # short docs have no shingles -> no rows
    assert nov[5].n_novel == 3 and nov[6].n_novel == 0
    assert C.novelty_curve(docs).count() >= 1

    # minhashes / ngram_jaccard_pairs on the pure-Catalyst fold form
    mh = D.minhashes(docs, vectorized=False)
    assert {r.doc_id for r in mh.filter("size(hs) > 0").collect()} == {5, 6}
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.5, vectorized=False
        ).collect()
    }
    assert jac == {(5, 6): 1.0}


def test_rp_project_survives_empty_vectors(spark):
    """Regression (same sequence-reversal class as shingles): an empty
    embedding array must project to the all-zero vector — the DuckDB
    twin's fold over list_prepend(0.0, []) — not crash element_at."""
    from cdc_stream_processor_spark.operators.similarity import rp_project

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, []), (3, None)],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.proj for r in rp_project(df, out_dims=4).collect()}
    assert got[2] == [0.0, 0.0, 0.0, 0.0]
    assert len(got[1]) == 4 and any(x != 0.0 for x in got[1])


def test_shingles_let_binding_parity(spark):
    """The r12 let-binding rewrite of TH.shingles (tokenize once per row,
    not once per gram element) must be value-identical to the unbound
    expression on every edge class: NULL text, empty, sub-k, exactly-k,
    repeated grams (array_distinct), multi-space/tab whitespace."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.functions import texthash as TH

    def shingles_unbound(text, k=3):
        # the pre-r12 expression shape: token array referenced per element
        toks = TH.tokens(text)
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
        return F.when(n >= F.lit(k), F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    rows = [
        (1, None),
        (2, ""),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, "a b a b a b a b"),
        (7, "  spaced\tout   tokens here  "),
        (8, "One TWO oNe two ONE Two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3):
        got = {
            r.doc_id: r.s
            for r in docs.select(
                "doc_id", TH.shingles(F.col("text"), k).alias("s")
            ).collect()
        }
        want = {
            r.doc_id: r.s
            for r in docs.select(
                "doc_id", shingles_unbound(F.col("text"), k).alias("s")
            ).collect()
        }
        assert got == want


def test_let_binding_evaluates_body_on_null(spark):
    """TH.let must pass a NULL binding through to the body (array(NULL) is
    a one-element array), matching how the unbound expression saw it."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.functions import texthash as TH

    df = spark.createDataFrame([(None,), ("x",)], "v string")
    out = df.select(
        TH.let(
            F.col("v"), lambda b: F.coalesce(b, F.lit("was-null"))
        ).alias("r")
    ).collect()
    assert sorted(r.r for r in out) == ["was-null", "x"]
