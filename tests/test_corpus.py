"""Corpus-construction operators (operators.corpus): split, decontamination,
sequence packing, embedding quantization — semantic properties plus the plan
shapes that make them 100 TB-safe. Oracle parity itself is the driver gate
(queries_corpus QUERIES oracle SQL)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_stream_processor_spark.operators import corpus as C
from cdc_stream_processor_spark.operators import text as X
from cdc_stream_processor_spark.queries_corpus import (
    q_corpus_split,
    q_decontamination_overlap,
    q_pack_sequences,
    q_quantize_embeddings,
)
from cdc_stream_processor_spark.sources import batch as B


# --- corpus_split -------------------------------------------------------------


def test_corpus_split_labels_partition_and_track_fractions(spark, sf_dir):
    out = q_corpus_split(spark, sf_dir)
    rows = out.collect()
    n = len(rows)
    by_label = {s: sum(1 for r in rows if r.split == s) for s in ("test", "val", "train")}
    assert sum(by_label.values()) == n  # labels exhaustive + disjoint
    # hash-threshold split: realized fractions near targets (LLN at scale;
    # at sf0.001 allow a wide but meaningful tolerance)
    assert 0.03 <= by_label["test"] / n <= 0.2
    assert 0.10 <= by_label["val"] / n <= 0.33
    assert by_label["train"] / n >= 0.55
    # deterministic: same assignment on recompute
    again = {r.doc_id: r.split for r in q_corpus_split(spark, sf_dir).collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


def test_corpus_split_is_map_only(spark, sf_dir):
    plan = q_corpus_split(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map: no shuffle at any scale


# --- decontaminate ------------------------------------------------------------


def test_decontaminate_flags_verbatim_copy(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words nothing shared here at all friend"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    out = C.decontaminate(corpus, bench, min_overlap=5).collect()
    assert [(r.doc_id, r.bench_id) for r in out] == [(1, 100)]
    # 10 tokens → 8 distinct 3-gram shingles, all shared
    assert out[0].shared_shingles == 8


def test_decontaminate_benchmark_hot_shingle_guard(spark):
    # a shingle present in BOTH benchmark docs is dropped at df cutoff 1,
    # so only the unique-overlap pair survives
    corpus = spark.createDataFrame(
        [(1, "common one two three four five unique alpha beta gamma")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (100, "common one two three four five unique alpha beta gamma"),
            (101, "common one two three different tail words here now ok"),
        ],
        ["doc_id", "text"],
    )
    full = C.decontaminate(corpus, bench, min_overlap=1).collect()
    assert {(r.doc_id, r.bench_id) for r in full} == {(1, 100), (1, 101)}
    guarded = C.decontaminate(corpus, bench, min_overlap=1, max_shingle_df=1)
    got = {(r.doc_id, r.bench_id): r.shared_shingles for r in guarded.collect()}
    assert set(got) == {(1, 100)}  # the (1,101) overlap was all-hot shingles
    assert got[(1, 100)] < 8  # hot shingles excluded from the count


def test_decontamination_plan_broadcasts_benchmark_index(spark, sf_dir):
    plan = (
        q_decontamination_overlap(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles for the join


# --- pack_sequences -----------------------------------------------------------


def test_pack_sequences_layout_invariants(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    out = C.pack_sequences(docs, capacity=64).collect()
    assert len(out) == docs.count()
    per_source: dict[str, list] = {}
    for r in out:
        assert 0 <= r.pack_pos < 64
        assert r.straddles == (r.pack_pos + r.n_tokens > 64)
        per_source.setdefault(r.source, []).append(r)
    for rows in per_source.values():
        rows.sort(key=lambda r: r.doc_id)
        # offsets reconstruct the concatenated token stream exactly
        offset = 0
        for r in rows:
            assert r.pack_id * 64 + r.pack_pos == offset
            offset += r.n_tokens
        # pack ids are monotone within the shard
        packs = [r.pack_id for r in rows]
        assert packs == sorted(packs)


def test_pack_sequences_single_shuffle_on_shard_key(spark, sf_dir):
    plan = (
        q_pack_sequences(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hash exchange for the per-shard window, nothing else; never a
    # global-order range exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


# --- quantize_embeddings ------------------------------------------------------


def test_quantize_embeddings_bounds_and_determinism(spark, sf_dir):
    emb = B.load_table(spark, sf_dir, "embeddings")
    out = q_quantize_embeddings(spark, sf_dir).collect()
    assert len(out) == emb.count()
    for r in out:
        assert r.n_dims == 64
        assert r.scale > 0
        # truncation error is strictly below one quantum
        assert 0 <= r.max_abs_err < r.scale
    # digest is stable across recomputation
    again = {r.vec_id: r.q_digest for r in q_quantize_embeddings(spark, sf_dir).collect()}
    assert all(again[r.vec_id] == r.q_digest for r in out)


def test_quantize_roundtrip_on_known_vector(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in C.quantize_embeddings(emb).collect()}
    r1 = rows[1]
    # scale = 1/127; q = trunc(x*127) = [127, -63, 31, 0] (toward zero)
    assert abs(r1.scale - 1.0 / 127) < 1e-12
    digest = 0
    for q in (127, -63, 31, 0):
        digest = (digest * 31 + (q + 127)) % 1_000_000_007
    assert r1.q_digest == digest
    # all-zero vector: scale 0, every q 0, zero error
    r2 = rows[2]
    assert r2.scale == 0.0 and r2.max_abs_err == 0.0
    zero_digest = 0
    for _ in range(4):
        zero_digest = (zero_digest * 31 + 127) % 1_000_000_007
    assert r2.q_digest == zero_digest


def test_quantize_plan_is_map_only(spark, sf_dir):
    plan = (
        q_quantize_embeddings(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_pii_scan_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or 10.0.0.1 now"),
            (2, "call +234-8031234567 before noon"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in X.pii_scan(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_phones"]) == (1, 1, 0)
    assert got[2]["n_phones"] == 1 and got[2]["has_pii"]
    assert not got[3]["has_pii"]
    # redaction removed every match (placeholders present, originals gone)
    red = df.select("doc_id", X.redact_pii(F.col("text")).alias("r")).collect()
    red = {r["doc_id"]: r["r"] for r in red}
    assert "[EMAIL]" in red[1] and "[IP]" in red[1] and "example" not in red[1]
    assert "[PHONE]" in red[2] and "8031234567" not in red[2]


def test_temperature_sample_upweights_small_strata(spark, sf_dir):
    from cdc_stream_processor_spark.sources import batch as B

    docs = B.load_table(spark, sf_dir, "documents")
    out = C.temperature_sample(docs).persist()
    rates = {
        r["lang"]: r["sample_rate"]
        for r in out.select("lang", "sample_rate").distinct().collect()
    }
    counts = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # monotone: rarer stratum never gets a lower rate than a more common one
    ordered = sorted(counts, key=counts.get)
    for a, b in zip(ordered, ordered[1:]):
        if counts[a] < counts[b]:
            assert rates[a] >= rates[b]
    assert all(0.0 < r <= 1.0 for r in rates.values())
    # keep flag is exactly the LCG-vs-rate comparison, and yield is near target
    bad = out.filter(
        F.col("keep") != (F.col("sample_key") < F.col("sample_rate"))
    ).count()
    assert bad == 0
    n, kept = out.count(), out.filter("keep").count()
    assert 0.3 < kept / n < 0.7
    out.unpersist()


# --- remove_boilerplate_tokens ------------------------------------------------


def test_boilerplate_removal_drops_only_ubiquitous_tokens(spark):
    # 10 docs: 'common' appears in 9/10 (df=900 permille > 790), every other
    # token is rare. Only 'common' may be removed, order preserved.
    docs = spark.createDataFrame(
        [(i, f"common w{i}a w{i}b common w{i}c") for i in range(9)]
        + [(9, "x9a x9b x9c x9d x9e")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in C.remove_boilerplate_tokens(docs).collect()}
    for i in range(9):
        assert out[i].n_tokens_before == 5
        assert out[i].n_tokens_removed == 2
        assert out[i].clean_text == f"w{i}a w{i}b w{i}c"  # order preserved
    assert out[9].n_tokens_removed == 0
    assert out[9].clean_text == "x9a x9b x9c x9d x9e"


def test_boilerplate_threshold_is_strict_integer_comparison(spark):
    # df exactly at the threshold (790/1000 of ndocs) must NOT be removed:
    # comparison is strict df*1000 > permille*ndocs. 79 of 100 docs → kept;
    # 80 of 100 → removed.
    docs = spark.createDataFrame(
        [(i, ("at79 " if i < 79 else "") + ("at80 " if i < 80 else "") + f"u{i}")
         for i in range(100)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in C.remove_boilerplate_tokens(docs).collect()}
    assert out[0].clean_text == "at79 u0"  # at80 dropped, at79 kept
    assert out[0].n_tokens_removed == 1


def test_boilerplate_rewrite_pass_is_broadcast_map(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    plan = (
        C.remove_boilerplate_tokens(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus-side rewrite joins the one-row stoplist by broadcast; the
    # only shuffle in the whole plan is the vocabulary-sized DF aggregation
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# --- global_shuffle -----------------------------------------------------------


def test_global_shuffle_is_a_total_permutation(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    out = C.global_shuffle(docs).collect()
    n = docs.count()
    assert sorted(r.shuffle_pos for r in out) == list(range(n))  # bijection
    # position order == (key, id) order
    by_pos = sorted(out, key=lambda r: r.shuffle_pos)
    keys = [(r.shuffle_key, r.doc_id) for r in by_pos]
    assert keys == sorted(keys)
    # deterministic on recompute
    again = {r.doc_id: r.shuffle_pos for r in C.global_shuffle(docs).collect()}
    assert all(again[r.doc_id] == r.shuffle_pos for r in out)


def test_global_shuffle_rank_window_is_bucket_partitioned(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    plan = (
        C.global_shuffle(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus-side rank window must partition by bucket (parallel), never
    # collapse the whole corpus to one reducer; the only SinglePartition
    # exchange allowed is the <=1024-row bucket-offset subplan
    assert "hashpartitioning(bucket" in plan


# --- chunk_documents ----------------------------------------------------------


def test_chunk_documents_overlap_and_tail(spark):
    # 40 tokens, chunk=32, stride=24: starts 0 and 24; second chunk is the
    # 16-token tail; consecutive chunks share tokens 24..31
    toks = [f"t{i}" for i in range(40)]
    docs = spark.createDataFrame([(1, " ".join(toks)), (2, "a b")],
                                 ["doc_id", "text"])
    out = {(r.doc_id, r.chunk_idx): r for r in C.chunk_documents(docs).collect()}
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    assert out[(1, 0)].n_chunk_tokens == 32
    assert out[(1, 0)].chunk_text.split(" ") == toks[:32]
    assert out[(1, 1)].n_chunk_tokens == 16
    assert out[(1, 1)].chunk_text.split(" ") == toks[24:40]
    # every token covered; short doc → one short chunk
    assert out[(2, 0)].chunk_text == "a b"
    # map-only: no shuffle at any scale
    plan = C.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_gopher_quality_rules_on_known_docs(spark):
    rows = [
        # prose-like: 24 words incl. stopwords, alpha, no symbols → keep
        (1, " ".join(["the quick brown fox and all of that have been with us"] * 2) + " again more"),
        # too short
        (2, "tiny doc"),
        # symbol-heavy: many # marks
        (3, " ".join(["#tag"] * 30)),
        # numeric tokens → alpha ratio fails
        (4, " ".join(str(i) for i in range(30)) + " the of and"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in X.gopher_quality(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["ok_word_count"] is False and out[2]["keep"] is False
    assert out[3]["ok_symbol_ratio"] is False
    assert out[4]["ok_alpha_words"] is False
    # keep == conjunction of all rules, on every row
    for r in out.values():
        rules = [r["ok_word_count"], r["ok_mean_word_len"], r["ok_symbol_ratio"],
                 r["ok_alpha_words"], r["ok_stopwords"]]
        assert r["keep"] == all(rules)


def test_source_cap_enforces_cap_and_is_partition_invariant(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    out = C.source_cap(docs, cap=7)
    per_src = out.groupBy("source").count().collect()
    assert all(r["count"] <= 7 for r in per_src)
    a = sorted((r["doc_id"], r["src_rank"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["src_rank"])
        for r in C.source_cap(docs.repartition(17), cap=7).collect()
    )
    assert a == b
    # kept docs are the longest per source
    full = docs.select("doc_id", "source", "n_chars").collect()
    kept = {r["doc_id"] for r in out.collect()}
    by_src: dict[str, list] = {}
    for r in full:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        want = {
            r["doc_id"]
            for r in sorted(rows, key=lambda r: (-r["n_chars"], r["doc_id"]))[:7]
        }
        assert want == {r["doc_id"] for r in rows if r["doc_id"] in kept}


def test_inverted_index_bounded_postings_and_exact_df(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("gamma" if i % 2 == 0 else "delta")) for i in range(40)],
        ["doc_id", "text"],
    )
    out = {r["term"]: r for r in C.inverted_index(docs, top_terms=3, max_postings=5).collect()}
    # df: alpha 40, beta 40, gamma 20, delta 20 — delta beats gamma on the
    # term-ASC tie-break at equal df
    assert set(out) == {"alpha", "beta", "delta"}
    assert out["alpha"]["df"] == 40 and len(out["alpha"]["postings"]) == 5
    assert out["alpha"]["postings"] == [0, 1, 2, 3, 4]
    assert out["delta"]["postings"] == [1, 3, 5, 7, 9]
    assert [out[t]["term_rank"] for t in ("alpha", "beta", "delta")] == [1, 2, 3]


def test_bloom_decontaminate_agrees_with_exact_and_flags_planted_copy(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents").limit(200)
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    # plant: corpus doc 100001 is a verbatim copy of a benchmark doc
    planted_text = bench.limit(1).collect()[0]["text"]
    corpus = docs.filter(F.col("doc_id") % 13 != 0).select("doc_id", "text").union(
        spark.createDataFrame([(100001, planted_text)], ["doc_id", "text"])
    )
    out = {r["doc_id"]: r for r in C.bloom_decontaminate(corpus, bench).collect()}
    assert out[100001]["clean"] is False
    exact_dirty = {
        r["doc_id"]
        for r in C.decontaminate(corpus, bench, min_overlap=5).collect()
    }
    bloom_dirty = {d for d, r in out.items() if not r["clean"]}
    assert bloom_dirty == exact_dirty
    # prefilter soundness: every exactly-dirty doc has maybe_hits >= overlap
    assert all(out[d]["maybe_hits"] >= 5 for d in exact_dirty)


def test_ewma_constant_series_and_head(spark):
    from cdc_stream_processor_spark.operators.relational import ewma_smooth

    rows = [("a", t, 10) for t in range(20)] + [("b", 0, 4)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    out = {(r["k"], r["t"]): r["ewma"] for r in
           ewma_smooth(df, ["k"], "t", "x", alpha=0.3, span=8).collect()}
    # constant series → ewma equals the constant at every position,
    # including the head where fewer than span lags exist
    for t in range(20):
        assert abs(out[("a", t)] - 10.0) < 1e-9
    assert out[("b", 0)] == 4.0


def test_ewma_null_value_row_yields_null(spark):
    """A NULL value makes the row's ENTIRE lag frame NULL (even the j=0
    lag), so the weight denominator is exactly 0.0: the average over
    zero present terms must be NULL, not an ANSI DIVIDE_BY_ZERO crash
    (r12 unguarded-denominator sweep). Later rows still smooth over the
    terms that exist."""
    from cdc_stream_processor_spark.operators.relational import ewma_smooth

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 4.0)], "k long, t long, v double"
    )
    out = {r.t: r.ewma for r in ewma_smooth(df, ["k"], "t", "v").collect()}
    assert out[1] is None
    assert out[2] == 4.0


def test_weighted_sample_bias_and_determinism(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    s1 = [(r["doc_id"], r["draw_rank"]) for r in
          C.weighted_priority_sample(docs, k=50).collect()]
    s2 = [(r["doc_id"], r["draw_rank"]) for r in
          C.weighted_priority_sample(docs.repartition(11), k=50).collect()]
    assert sorted(s1) == sorted(s2) and len(s1) == 50
    # weight bias: the sample's mean n_chars should exceed the corpus mean
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    ids = [d for d, _ in s1]
    sample_mean = (
        docs.filter(F.col("doc_id").isin(ids)).agg(F.avg("n_chars")).collect()[0][0]
    )
    assert sample_mean > corpus_mean


def test_value_histogram_dense_and_consistent(spark, sf_dir):
    from cdc_stream_processor_spark.operators.relational import (
        HIST_BINS,
        value_histogram,
    )

    ev = B.load_table(spark, sf_dir, "events")
    out = value_histogram(ev).collect()
    by_type: dict[str, list] = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    counts = {r["event_type"]: r["cnt"] for r in
              ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for et, rows in by_type.items():
        assert len(rows) == HIST_BINS  # dense spine
        assert sorted(r["bin"] for r in rows) == list(range(HIST_BINS))
        assert sum(r["n"] for r in rows) == counts[et]  # nothing dropped


def test_first_touch_attribution_planted(spark):
    from datetime import datetime

    from cdc_stream_processor_spark.operators.relational import (
        first_touch_attribution,
    )

    rows = [
        # user 1: view on day 1, click day 3, purchase day 5 → first touch = view
        (10, datetime(2024, 1, 1, 12), 1, "view"),
        (11, datetime(2024, 1, 3, 12), 1, "click"),
        (12, datetime(2024, 1, 5, 12), 1, "purchase"),
        # user 2: touch 10 days before purchase — outside the 7d window,
        # so the purchase itself is the first touch in-frame
        (20, datetime(2024, 1, 1, 0), 2, "view"),
        (21, datetime(2024, 1, 11, 0), 2, "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {r["event_id"]: r for r in first_touch_attribution(ev).collect()}
    assert out[12]["touch_event_id"] == 10 and out[12]["touch_type"] == "view"
    assert out[12]["seconds_since_touch"] == 4 * 86400.0
    assert out[21]["touch_event_id"] == 21 and out[21]["touch_type"] == "purchase"


def test_dataset_mixture_rates_and_determinism(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    out = C.dataset_mixture(docs)
    rows = out.collect()
    # exact rate law: a source with weight w has exactly min(floor(T*w), n_src)
    # docs at mix_pos <= T
    import math

    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for T in (3.0, 7.5):
        for src, srows in by_src.items():
            w = C.MIX_WEIGHTS.get(src, 1.0)
            got = sum(1 for r in srows if r["mix_pos"] <= T)
            assert got == min(math.floor(T * w), len(srows)), (src, T)
    # determinism across partitionings
    again = sorted(
        (r["doc_id"], r["src_rank"])
        for r in C.dataset_mixture(docs.repartition(9)).collect()
    )
    assert again == sorted((r["doc_id"], r["src_rank"]) for r in rows)


def test_tokenize_ids_roundtrip_known_vocab(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a b b c"),       # freq: a=3, b=2, c=1 (+ below)
            (2, "a b zz"),            # zz appears once -> may fall off vocab
        ],
        ["doc_id", "text"],
    )
    vocab = {r["token"]: r["token_id"] for r in C.build_vocab(docs, vocab_size=4).collect()}
    # ids 1..3 by (count desc, token asc): a(4), b(3), c(1) < zz? c vs zz both 1,
    # 'c' wins the token-ASC tie-break
    assert vocab == {"a": 1, "b": 2, "c": 3}
    out = {
        r["doc_id"]: r
        for r in C.tokenize_ids(
            docs, vocab=C.build_vocab(docs, vocab_size=4), preview=10
        ).collect()
    }
    assert out[1]["ids"] == [1, 1, 1, 2, 2, 3] and out[1]["oov_count"] == 0
    assert out[2]["ids"] == [1, 2, 0] and out[2]["oov_count"] == 1  # zz -> <unk>
    assert out[2]["n_tokens"] == 3


def test_span_masks_non_overlapping_and_in_bounds(spark, sf_dir):
    from cdc_stream_processor_spark.functions.fasthash import tokens_py

    docs = B.load_table(spark, sf_dir, "documents")
    n_by_doc = {
        r["doc_id"]: len(tokens_py(r["text"]))
        for r in docs.select("doc_id", "text").collect()
    }
    out = C.span_corruption_masks(docs).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc  # corpus docs are long enough to draw spans
    for doc_id, spans in by_doc.items():
        n = n_by_doc[doc_id]
        assert len(spans) == n // C.SPAN_EVERY
        spans.sort(key=lambda r: r["span_start"])
        prev_end = -1
        for r in spans:
            assert 0 <= r["span_start"] and r["span_start"] + r["span_len"] <= n
            assert r["span_start"] > prev_end  # non-overlap
            prev_end = r["span_start"] + r["span_len"] - 1


# --- remove_dup_segments ------------------------------------------------------


def test_segment_dedup_keeps_first_occurrence_only(spark):
    # seg width 3. doc 0 repeats its own first segment (within-doc dup) and
    # doc 1 copies doc 0's first segment (cross-doc dup): only the (0,0)
    # copy survives; unique segments are untouched.
    docs = spark.createDataFrame(
        [
            (0, "a b c a b c x y z"),  # segs: "a b c" | "a b c" | "x y z"
            (1, "a b c q r s"),        # segs: "a b c" | "q r s"
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in C.remove_dup_segments(docs, seg_tokens=3).collect()
    }
    assert out[0].n_segs == 3 and out[0].n_kept == 2
    assert out[0].clean_text == "a b c x y z"  # order preserved
    assert out[1].n_segs == 2 and out[1].n_kept == 1
    assert out[1].clean_text == "q r s"


def test_segment_dedup_partial_tail_and_empty_doc(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "   "), (2, "a b c d")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in C.remove_dup_segments(docs, seg_tokens=3).collect()
    }
    # 4 tokens at width 3 -> 2 segments, tail "d" NOT padded
    assert out[0].n_segs == 2 and out[0].clean_text == "a b c d"
    # whitespace-only doc survives with zero segments and empty text
    assert out[1].n_segs == 0 and out[1].n_kept == 0
    assert out[1].clean_text == ""
    # full duplicate doc collapses to nothing but keeps its row
    assert out[2].n_segs == 2 and out[2].n_kept == 0
    assert out[2].clean_text == ""


def test_segment_dedup_single_segment_shuffle(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    plan = (
        C.remove_dup_segments(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # first-occurrence selection is MIN OVER (PARTITION BY seg_text): the
    # segment rows shuffle on seg_text exactly once — the groupBy+rejoin
    # form paid that shuffle twice (distinct-firsts agg + sort-merge join)
    # with identical hot-segment skew exposure
    assert "Window" in plan and "min(" in plan
    assert "SortMergeJoin [seg_text" not in plan
    assert plan.count("hashpartitioning(seg_text") == 1


# --- bpe_merges ---------------------------------------------------------------


def test_bpe_merges_match_hand_computed_reference(spark):
    # words: low:3, lower:1, lowest:1, new:1, newer:2
    # r1: (l,o)=5 ties (o,w)=5, p1-asc tie-break -> (l,o)
    # r2: (lo,w)=5    r3: (e,r)=3 ties (e,w),(n,e) -> (e,r)
    docs = spark.createDataFrame(
        [(0, "low lower lowest new newer"), (1, "low low newer")],
        ["doc_id", "text"],
    )
    rows = sorted(
        C.bpe_merges(docs).collect(), key=lambda r: r.merge_rank
    )
    assert [(r.p1, r.p2, r.pair_count) for r in rows] == [
        ("l", "o", 5),
        ("lo", "w", 5),
        ("e", "r", 3),
    ]


def test_bpe_apply_is_canonical_left_scan(spark):
    # 'aaaa' with pair (a,a) must merge to [aa, aa] (i+=2 scan), never
    # [aa, a, a] (the over-eager string-replace trap)
    docs = spark.createDataFrame([(0, "aaaa aaaa")], ["doc_id", "text"])
    rows = sorted(
        C.bpe_merges(docs, rounds=2).collect(), key=lambda r: r.merge_rank
    )
    assert (rows[0].p1, rows[0].p2, rows[0].pair_count) == ("a", "a", 6)
    # round 2 sees [aa, aa] per word -> pair (aa, aa) with count 2
    assert (rows[1].p1, rows[1].p2, rows[1].pair_count) == ("aa", "aa", 2)


def test_bpe_array_fold_matches_string_fold(spark):
    """r13: _bpe_apply folds the symbol ARRAY (trailing-element test)
    instead of the space-joined string (endswith ' '||p1 test). The two
    scans must produce identical symbolizations on adversarial words:
    overlapping runs, merges at word start/end, the merged token
    reappearing as raw adjacent symbols, and pairs absent from a word."""
    from pyspark.sql import functions as F

    cases = [
        "aaaa", "aaa", "aa", "a", "ab", "ba", "abab", "aab",
        "baa", "abba", "bab", "xyz", "aaxaa",
    ]
    syms = spark.createDataFrame(
        [(w, 1) for w in cases], "word string, freq long"
    ).select(F.split(F.col("word"), "").alias("toks"), "freq")
    top = spark.createDataFrame([("a", "a", 0)], "p1 string, p2 string, pair_count long")
    got = [
        r.s
        for r in C._bpe_apply(syms, top)
        .select(F.array_join("toks", " ").alias("s"))
        .collect()
    ]

    def string_fold(word: str, p1: str, p2: str) -> str:
        acc = ""
        for x in word:
            if x == p2 and (acc == p1 or acc.endswith(" " + p1)):
                acc = acc[: len(acc) - len(p1)] + p1 + p2
            else:
                acc = x if acc == "" else acc + " " + x
        return acc

    assert got == [string_fold(w, "a", "a") for w in cases]


def test_bpe_rounds_stay_lazy_no_driver_collect(spark, sf_dir):
    # building the 3-round DAG must not trigger any Spark job
    docs = B.load_table(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = C.bpe_merges(docs)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert df.schema.simpleString() == (
        "struct<merge_rank:int,p1:string,p2:string,pair_count:bigint>"
    )


# --- seasonal_decompose -------------------------------------------------------


def test_seasonal_decompose_recovers_planted_weekly_pattern(spark):
    """cnt(day) = 10 + (day mod 7): for interior days the 7-day trend is
    exactly 13, the dow seasonal is exactly dow-3, and the residual is
    exactly 0.0 — the decomposition must recover all three bit-exactly."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows = []
    d0 = 19000  # epoch day (2022-01-08), d0 % 7 == 2
    eid = 0
    for day in range(d0, d0 + 28):
        for _ in range(10 + day % 7):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts))
            eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    out = {r.day: r for r in R.seasonal_decompose(events).collect()}
    # 28 days minus 3 partial-window days each end
    assert len(out) == 22
    for day, r in out.items():
        assert r.cnt == 10 + day % 7
        assert r.trend == 13.0
        assert r.seasonal == float(day % 7 - 3)
        assert r.residual == 0.0


# --- acf_daily / cusum_changepoint --------------------------------------------


def test_acf_daily_finds_planted_weekly_period(spark):
    """cnt(day) = 10 + (day mod 7): the ACF must peak at lag 7 (perfect
    weekly periodicity) and be strictly lower at every non-multiple lag."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows = []
    d0 = 19000
    eid = 0
    for day in range(d0, d0 + 70):
        for _ in range(10 + day % 7):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts))
            eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    acf = {r.lag: r for r in R.acf_daily(events).collect()}
    assert len(acf) == R.ACF_MAX_LAG
    assert acf[7].n_pairs == 63
    assert acf[7].acf > 0.85
    for k in range(1, 15):
        if k not in (7, 14):
            assert acf[k].acf < acf[7].acf - 0.5


def test_acf_daily_edge_guards(spark):
    """max_lag=0 would be a stack() SQL syntax error → ValueError; empty
    input returns ZERO rows (not max_lag null-acf rows)."""
    import pytest as _pytest

    from cdc_stream_processor_spark.operators import relational as R

    empty = spark.createDataFrame([], "event_id long, ts timestamp")
    with _pytest.raises(ValueError, match="max_lag"):
        R.acf_daily(empty, max_lag=0)
    assert R.acf_daily(empty).count() == 0


def test_cusum_changepoint_finds_planted_step(spark):
    """40 flat days at 5/day then 40 at 15/day: the max-|CUSUM| day must be
    the step boundary (the last day of the low regime)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows = []
    d0 = 19000
    eid = 0
    for day in range(d0, d0 + 80):
        for _ in range(5 if day < d0 + 40 else 15):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts))
            eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    top = R.cusum_changepoint(events).collect()
    assert top[0].day == d0 + 39
    # statistic decays moving away from the boundary
    assert {r.day for r in top} <= {d0 + 37, d0 + 38, d0 + 39, d0 + 40, d0 + 41}


def test_skyline_orders_exact_on_planted_frontier(spark):
    """Hand-built 2-D points with a known strict-dominance frontier,
    including a same-price tie (both survive: ties are not strict
    dominance) and a dominated-by-eliminated chain."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    d = lambda n: datetime.datetime(2024, 1, n)  # noqa: E731
    rows = [
        # (key, price, date)
        (1, 100.0, d(10)),  # frontier (max price)
        (2, 90.0, d(12)),   # frontier
        (3, 90.0, d(12)),   # same-price+date tie -> also survives
        (4, 80.0, d(11)),   # dominated by 2 (90>80, 12>11)
        (5, 70.0, d(15)),   # frontier (most recent)
        (6, 60.0, d(14)),   # dominated by 5
        (7, 100.0, d(9)),   # same price as 1, older date: survives
                            # (equal price is not strict dominance)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderdate timestamp"
    )
    got = {r.o_orderkey for r in R.skyline_orders(orders).collect()}
    assert got == {1, 2, 3, 5, 7}


def test_event_type_correlation_planted_signs(spark):
    """Two perfectly anti-phased types -> corr -1; a type proportional to
    another -> corr +1 (exactly, given integer-exact sums)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows = []
    eid = 0
    for day in range(20):
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        a = 5 + (day % 4)
        for _ in range(a):
            rows.append((eid, ts, 1, "up", 0.0, "{}")); eid += 1
        for _ in range(2 * a):
            rows.append((eid, ts, 1, "double", 0.0, "{}")); eid += 1
        for _ in range(20 - a):
            rows.append((eid, ts, 1, "down", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        (r.type_a, r.type_b): r.corr
        for r in R.event_type_correlation(events).collect()
    }
    # sqrt(vx)·sqrt(vy) rounds twice, so ±1 lands within 2 ulp, not exactly
    assert abs(out[("double", "up")] - 1.0) < 1e-12
    assert abs(out[("down", "up")] + 1.0) < 1e-12
    assert abs(out[("double", "down")] + 1.0) < 1e-12


def test_rolling_median_ignores_single_spike(spark):
    """Flat 10/day with one 100-event spike day: the rolling median stays
    exactly 10 everywhere (the mean would jump by 90/7)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows = []
    eid = 0
    for day in range(21):
        n = 100 if day == 10 else 10
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        for _ in range(n):
            rows.append((eid, ts)); eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    out = R.rolling_median_daily(events).collect()
    assert len(out) == 21 - 6
    assert all(r.rolling_median == 10.0 for r in out)


def test_part_affinity_lift_hand_computed(spark):
    """4 baskets: parts (1,2) co-occur twice, 1 appears 3×, 2 appears 2×,
    N=4 ⇒ lift(1,2) = 2·4/(3·2) = 4/3. Pair (1,3) has support 1 < 2 and
    must be filtered."""
    from cdc_stream_processor_spark.operators import relational as R

    rows = [
        (1, 1), (1, 2),
        (2, 1), (2, 2),
        (3, 1), (3, 3),
        (4, 4),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = R.part_affinity(li, k=10, min_support=2)
    got = {(r.part_a, r.part_b): (r.n_ab, r.lift) for r in out.collect()}
    assert got == {(1, 2): (2, 2 * 4 / (3 * 2))}


def test_survival_curve_kaplan_meier_hand_computed(spark):
    """5 users: lifetimes 1,1,2 (events) and 3,3 (censored — last event on
    the corpus max day). S(1)=1-2/5=0.6; S(2)=0.6·(1-1/3)=0.4; censored
    rows keep S flat."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = []
    # users 1,2: first day0 last day1; user 3: day0..day2;
    # users 4,5: day17..day20 (last == max day 20 -> censored)
    for uid, (lo, hi) in enumerate(
        [(0, 1), (0, 1), (0, 2), (17, 20), (17, 20)], start=1
    ):
        rows.append((uid * 100, base + lo * day, uid))
        rows.append((uid * 100 + 1, base + hi * day, uid))
    events = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    out = {r.t_days: r for r in R.survival_curve(events).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_risk, out[1].n_events, out[1].n_censored) == (5, 2, 0)
    assert (out[2].n_risk, out[2].n_events) == (3, 1)
    assert (out[3].n_risk, out[3].n_events, out[3].n_censored) == (2, 0, 2)
    assert out[1].survival == 1.0 * (1 - 2 / 5)
    assert out[2].survival == (1.0 * (1 - 2 / 5)) * (1 - 1 / 3)
    assert out[3].survival == out[2].survival  # censoring never drops S


def test_ab_test_zscores_planted_difference(spark):
    """Arm 0 users convert (>=2 'buy' events), arm 1 users don't: z must
    be large positive; the hand-computed value matches exactly."""
    import datetime, math

    from cdc_stream_processor_spark.operators import relational as R

    rows, eid = [], 0
    ts = datetime.datetime(2024, 1, 1)
    for uid in range(20):
        n_buy = 3 if uid % 2 == 0 else 0
        for _ in range(n_buy):
            rows.append((eid, ts, uid, "buy", 0.0, "{}")); eid += 1
        rows.append((eid, ts, uid, "view", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    r = R.ab_test_zscores(events, conversion_type="buy", min_count=2).collect()[0]
    assert (r.n_a, r.n_b, r.conv_a, r.conv_b) == (10, 10, 10, 0)
    assert r.rate_a == 1.0 and r.rate_b == 0.0
    p = 0.5
    se = math.sqrt(p * (1 - p) * (1 / 10 + 1 / 10))
    assert r.z_score == (1.0 - 0.0) / se


def test_ab_test_degenerate_arms_null_z(spark):
    """All users convert in both arms -> se = 0 -> z is NULL, not an
    error (the guard the real corpus needed)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    ts = datetime.datetime(2024, 1, 1)
    rows = [(i, ts, i % 4, "buy", 0.0, "{}") for i in range(16)]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    r = R.ab_test_zscores(events, conversion_type="buy", min_count=1).collect()[0]
    assert r.rate_a == 1.0 and r.rate_b == 1.0 and r.z_score is None


def test_expectation_suite_flags_planted_violations(spark):
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (1, ts, 1, "view", 10.0, "{}"),
        (1, ts, 2, "view", -5.0, "{}"),          # dup id + value out of range
        (3, datetime.datetime(1999, 1, 1), 3, " ", 1.0, "not json"),
        (4, ts, None, "click", 2.0, '{"k": 1}'),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.check: r for r in R.expectation_suite(events).collect()}
    assert out["event_id_unique"].n_violations == 1
    assert out["value_in_range"].n_violations == 1
    assert out["ts_in_century"].n_violations == 1
    assert out["event_type_not_blank"].n_violations == 1
    assert out["props_valid_json"].n_violations == 1
    assert out["user_id_not_null"].n_violations == 1
    assert out["event_id_not_null"].passed
    assert not out["value_in_range"].passed


def test_hashed_features_deterministic_and_sparse(spark):
    from cdc_stream_processor_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha"), (3, "")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.slot): r.feat for r in C.hashed_features(docs).collect()}
    # same token -> same slot/sign everywhere: doc1's alpha count doubles doc2's
    slots1 = {s for (d, s) in out if d == 1}
    slots2 = {s for (d, s) in out if d == 2}
    assert slots2 <= slots1 and len(slots2) == 1
    (s_alpha,) = slots2
    assert out[(1, s_alpha)] == 2 * out[(2, s_alpha)]
    # empty doc contributes nothing; zero-sum slots dropped
    assert not any(d == 3 for (d, _) in out)
    assert all(f != 0 for f in out.values())
    # slots within range
    assert all(0 <= s < C.HASH_DIM for (_, s) in out)


def test_kfold_assign_partitions_all_docs(spark, sf_dir):
    from cdc_stream_processor_spark.operators import corpus as C
    from cdc_stream_processor_spark.sources import batch as B
    from pyspark.sql import functions as F

    docs = B.load_table(spark, sf_dir, "documents")
    out = C.kfold_assign(docs)
    assert out.count() == docs.count()
    folds = {r.fold for r in out.select("fold").distinct().collect()}
    assert folds <= set(range(C.KFOLD_K)) and len(folds) == C.KFOLD_K
    # deterministic across invocations
    a = {(r.doc_id, r.fold) for r in out.select("doc_id", "fold").collect()}
    b = {
        (r.doc_id, r.fold)
        for r in C.kfold_assign(docs).select("doc_id", "fold").collect()
    }
    assert a == b


def test_pattern_match_daily_finds_repeated_motif(spark):
    """Weekly-periodic series: the best historical matches for the last
    7-day window must be exactly 7-day-multiple shifts back, corr ~ 1."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows, eid = [], 0
    d0 = 19000
    for day in range(d0, d0 + 42):
        for _ in range(10 + (day % 7) * 2):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts)); eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    out = R.pattern_match_daily(events).collect()
    # query window starts at d0+35; aligned starts d0, d0+7, ... d0+28
    aligned = {d0 + 7 * i for i in range(5)}
    assert {r.start_day for r in out} == aligned
    assert all(abs(r.corr - 1.0) < 1e-9 for r in out)


def test_sequence_gap_audit_bucketed_equals_global(spark):
    """Bucketed intra+inter gap detection must equal the naive global-
    sort form, including gaps that SPAN bucket boundaries and fully
    empty buckets in between."""
    from cdc_stream_processor_spark.operators import relational as R

    ids = (
        list(range(0, 50))
        + list(range(70, 120))          # gap 50..69 inside bucket 0 (b=100)
        + list(range(305, 320))         # gap 120..304 spans buckets 1..3
        + [990, 1001]                   # gap inside/over boundary
    )
    events = spark.createDataFrame([(i,) for i in ids], "event_id long")
    got = [
        (r.gap_start, r.gap_end, r.n_missing)
        for r in R.sequence_gap_audit(events, bucket=100).collect()
    ]
    expect = []
    s = sorted(set(ids))
    for a, b in zip(s, s[1:]):
        if b - a > 1:
            expect.append((a + 1, b - 1, b - a - 1))
    assert got == expect
    assert (50, 69, 20) in got and (120, 304, 185) in got


def test_distributed_rank_equals_global_row_number(spark):
    """The terasort-shaped rank must equal a plain global row_number for
    arbitrary (skewed, duplicate-valued) data — including all-equal
    values (degenerate single bucket)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cdc_stream_processor_spark.operators import relational as R

    rows = [(i, float((i * 37) % 11)) for i in range(500)] + [
        (1000 + i, 3.0) for i in range(50)  # heavy duplicate value
    ]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {
        r.k: r._rank
        for r in R.distributed_rank(
            df, F.col("v"), F.col("k"), n_buckets=8
        ).collect()
    }
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    exp = {
        r.k: r.rn - 1
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == exp
    # all-equal degenerate case
    df2 = spark.createDataFrame([(i, 7.0) for i in range(20)], "k long, v double")
    got2 = {
        r.k: r._rank
        for r in R.distributed_rank(df2, F.col("v"), F.col("k")).collect()
    }
    assert got2 == {i: i for i in range(20)}


def test_rfm_scores_shape(spark, sf_dir):
    from cdc_stream_processor_spark.operators import relational as R
    from cdc_stream_processor_spark.sources import batch as B

    out = R.rfm_scores(B.load_table(spark, sf_dir, "orders")).collect()
    n = len(out)
    assert n > 0
    for r in out:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        assert r.rfm == r.r_score * 100 + r.f_score * 10 + r.m_score
    # quintiles are balanced within rounding
    from collections import Counter
    c = Counter(r.m_score for r in out)
    assert max(c.values()) - min(c.values()) <= 1


def test_dynamic_sessions_gap_depends_on_prev_type(spark):
    """45-min gap after a purchase (gap 3600) stays one session; the same
    45-min gap after a view (gap 1800) splits."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mins = datetime.timedelta(minutes=1)
    rows = [
        # user 1: purchase then 45-min silence -> SAME session
        (1, t0, 1, "purchase", 0.0, "{}"),
        (2, t0 + 45 * mins, 1, "view", 0.0, "{}"),
        # user 2: view then 45-min silence -> NEW session
        (3, t0, 2, "view", 0.0, "{}"),
        (4, t0 + 45 * mins, 2, "view", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = R.dynamic_sessions(events).groupBy("user_id").count().collect()
    n = {r.user_id: r["count"] for r in out}
    assert n == {1: 1, 2: 2}


def test_kendall_tau_planted_monotone_series(spark):
    """A type proportional to another -> tau +1; anti-phased -> tau -1
    (exact: integer concordance counts, no interpolation)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows, eid = [], 0
    for day in range(15):
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        a = 3 + (day * 7) % 11  # varying, no repeated consecutive? may tie
        for _ in range(a):
            rows.append((eid, ts, 1, "up", 0.0, "{}")); eid += 1
        for _ in range(2 * a):
            rows.append((eid, ts, 1, "double", 0.0, "{}")); eid += 1
        for _ in range(30 - a):
            rows.append((eid, ts, 1, "down", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {(r.type_a, r.type_b): r for r in R.kendall_tau_types(events).collect()}
    assert out[("double", "up")].tau_b == 1.0
    assert out[("down", "up")].tau_b == -1.0
    assert out[("double", "down")].tau_b == -1.0
    assert out[("double", "up")].n_discordant == 0


def test_seasonal_anomalies_flags_planted_spike_only(spark):
    """Clean weekly pattern + one 60-event spike: exactly that day is
    flagged; every other interior day has residual 0."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows, eid = [], 0
    d0 = 19000
    spike_day = d0 + 14
    for day in range(d0, d0 + 28):
        n = 10 + day % 7 + (60 if day == spike_day else 0)
        for _ in range(n):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts)); eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts"])
    out = {r.day: r for r in R.seasonal_anomalies(events).collect()}
    flagged = {d for d, r in out.items() if r.is_anomaly}
    # the spike bleeds into (a) the ±3 moving-average trend window and
    # (b) the seasonal mean of its OWN day-of-week (mean-based seasonal
    # estimate — every same-dow day inherits a negative residual), so the
    # flag set contains the spike and stays inside that union
    assert spike_day in flagged
    same_dow = {d for d in out if d % 7 == spike_day % 7}
    assert flagged <= set(range(spike_day - 3, spike_day + 4)) | same_dow
    # the spike day itself carries the LARGEST absolute residual
    assert max(out, key=lambda d: abs(out[d].residual)) == spike_day


def test_conversion_lag_quantiles_hand_computed(spark):
    """4 signup users, 3 convert with lags 10s/20s/40s (one purchase
    BEFORE signup must not count); p50 = 20 exactly."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    s = datetime.timedelta(seconds=1)
    rows = [
        (1, t0, 1, "signup", 0.0, "{}"),
        (2, t0 + 10 * s, 1, "purchase", 0.0, "{}"),
        (3, t0, 2, "signup", 0.0, "{}"),
        (4, t0 + 20 * s, 2, "purchase", 0.0, "{}"),
        (5, t0 - 5 * s, 3, "purchase", 0.0, "{}"),   # pre-signup: ignored
        (6, t0, 3, "signup", 0.0, "{}"),
        (7, t0 + 40 * s, 3, "purchase", 0.0, "{}"),
        (8, t0, 4, "signup", 0.0, "{}"),              # never converts
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    r = R.conversion_lag_quantiles(events).collect()[0]
    assert (r.n_from, r.n_converted) == (4, 3)
    assert r.p50_s == 20.0
    assert r.p25_s == 15.0 and r.p75_s == 30.0  # linear interpolation


def test_user_burstiness_periodic_vs_bursty(spark):
    """User 1 perfectly periodic (B = -1: sigma 0); user 2 bursty (many
    tiny gaps + one huge gap -> B near +1). Ranking puts 2 first."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    t0 = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows, eid = [], 0
    for i in range(10):  # user 1: every 60s exactly
        rows.append((eid, t0 + i * 60 * s, 1, "view", 0.0, "{}")); eid += 1
    burst_times = [0, 1, 2, 3, 4, 5, 100000, 100001, 100002, 100003]
    for t in burst_times:  # user 2: two tight bursts far apart
        rows.append((eid, t0 + t * s, 2, "view", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = [r for r in R.user_burstiness(events).collect()]
    by_user = {r.user_id: r for r in out}
    assert by_user[1].burstiness == -1.0  # sigma == 0 exactly
    # finite-size bound: max B for n gaps is (sqrt(n-1)-1)/(sqrt(n-1)+1)
    # = 0.477 at n=9 -- user 2 sits essentially AT the bound
    assert by_user[2].burstiness > 0.45
    assert out[0].user_id == 2  # bursty ranks first


def test_user_path_score_flags_rare_transition_user(spark):
    """Most users alternate a->b; one user does a->c (a rare transition):
    that user's mean transition probability must be the lowest."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    t0 = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=10)
    rows, eid = [], 0
    for uid in range(1, 10):  # 9 conformist users: a -> b
        rows.append((eid, t0, uid, "a", 0.0, "{}")); eid += 1
        rows.append((eid, t0 + s, uid, "b", 0.0, "{}")); eid += 1
    rows.append((eid, t0, 99, "a", 0.0, "{}")); eid += 1
    rows.append((eid, t0 + s, 99, "c", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.user_id: r for r in R.user_path_score(events).collect()}
    # p(b|a) = 9/10, p(c|a) = 1/10 -> exact scaled integers
    assert out[1].mean_scaled_p == float(int(0.9 * 1e9))
    assert out[99].mean_scaled_p == float(int(0.1 * 1e9))
    assert min(out.values(), key=lambda r: r.mean_scaled_p).user_id == 99


def test_seasonal_by_group_matches_global_on_single_group(spark):
    """With one group, the grouped decomposition must equal the global
    one bit-for-bit (same integer-numerator arithmetic, now partitioned)."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows, eid = [], 0
    d0 = 19000
    for day in range(d0, d0 + 28):
        for _ in range(10 + day % 7):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day)
            rows.append((eid, ts, 1, "only", 0.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    grouped = {
        r.day: (r.cnt, r.trend, r.seasonal, r.residual)
        for r in R.seasonal_decompose_by_group(events).collect()
    }
    global_ = {
        r.day: (r.cnt, r.trend, r.seasonal, r.residual)
        for r in R.seasonal_decompose(events).collect()
    }
    assert grouped == global_ and len(grouped) == 22


def test_forecast_backtest_perfect_on_linear_series(spark):
    """Monthly revenue exactly linear in the month index: every rolling-
    origin prediction is exact (ape == 0) once min_train months exist."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    rows, ok = [], 0
    for m in range(12):
        # revenue for month m: (1000 + 100*m), one order carries it all
        rows.append(
            (ok, 1, "O", 1000.0 + 100.0 * m,
             datetime.datetime(2024, 1 + m % 12, 15), "1-URGENT")
        )
        ok += 1
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    out = R.forecast_backtest(orders).collect()
    assert len(out) == 12 - R.BACKTEST_MIN_TRAIN
    for r in out:
        assert r.ape == 0.0 and r.predicted == r.actual


def test_power_user_share_hand_computed(spark):
    """20 users: top-2 (10%) have 50+40 of 200 events -> share 0.45."""
    import datetime

    from cdc_stream_processor_spark.operators import relational as R

    ts = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    counts = [50, 40] + [110 // 18 + (1 if i < 110 % 18 else 0) for i in range(18)]
    for uid, n in enumerate(counts, start=1):
        for _ in range(n):
            rows.append((eid, ts, uid)); eid += 1
    events = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    r = R.power_user_share(events).collect()[0]
    assert (r.n_users, r.n_top) == (20, 2)
    assert r.top_events == 90 and r.total_events == sum(counts)
    assert r.share == 90 / sum(counts)


def test_dau_mau_stickiness_bounds(spark, sf_dir):
    from cdc_stream_processor_spark.operators import relational as R
    from cdc_stream_processor_spark.sources import batch as B

    out = R.dau_mau_stickiness(B.load_table(spark, sf_dir, "events")).collect()
    assert out
    for r in out:
        assert 0.0 < r.stickiness <= 1.0
        assert r.mean_dau <= r.mau


def test_range_rank_regimes_equal_on_skewed_keys(spark):
    """Zipf-skewed value column (half the rows share value 1, the
    distributed_rank killer): the small-probe window regime and the
    forced range-partitioned regime produce identical exact ranks."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.operators import relational as R

    rows = [(i, 1 if i % 2 == 0 else i % 97 + 2) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    order = [F.col("v").desc(), F.col("k").asc()]
    small = {
        r.k: r._rank for r in R.range_rank(df, order).collect()
    }
    dist = {
        r.k: r._rank
        for r in R.range_rank(df, order, small_limit=0).collect()
    }
    assert small == dist
    expected = {
        k: i + 1
        for i, (k, _) in enumerate(
            sorted(rows, key=lambda t: (-t[1], t[0]))
        )
    }
    assert small == expected


def test_distributed_rank_regimes_equal_on_edge_shapes(spark):
    """The probed small-input window regime (new) and the forced bucketed
    regime produce identical 0-based ranks on the bucket-stressing
    shapes: heavy value ties, negative values, and an all-equal column
    (span collapses to the 1e-9 epsilon → every row lands in bucket 0)."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark.operators import relational as R

    shapes = {
        "ties": [(i, i % 7) for i in range(500)],
        "negatives": [(i, -(i % 13) * 3 + 5) for i in range(500)],
        "all_equal": [(i, 42) for i in range(500)],
    }
    for name, rows in shapes.items():
        df = spark.createDataFrame(rows, ["k", "v"])
        for asc in (True, False):
            small = {
                r.k: r._rank
                for r in R.distributed_rank(
                    df, F.col("v"), F.col("k"), ascending=asc
                ).collect()
            }
            dist = {
                r.k: r._rank
                for r in R.distributed_rank(
                    df, F.col("v"), F.col("k"), ascending=asc,
                    small_limit=0,
                ).collect()
            }
            assert small == dist, (name, asc)
            sign = 1 if asc else -1
            expected = {
                k: i
                for i, (k, _) in enumerate(
                    sorted(rows, key=lambda t: (sign * t[1], t[0]))
                )
            }
            assert small == expected, (name, asc)


def test_user_value_mad_hand_computed(spark):
    """Bucketed grouped-map MAD against hand arithmetic: u1 has median 2.5
    (even-count interpolation lo + (hi-lo)/2), MAD 1.0, and exactly one
    value past the 3-MAD fence; a single-value user has MAD 0 and no
    outliers (0 > 0 is false)."""
    from cdc_stream_processor_spark.operators import relational as R

    rows = [(1, 1.0), (1, 2.0), (1, 3.0), (1, 100.0), (2, 5.0)]
    ev = spark.createDataFrame(rows, "user_id long, value double")
    out = {r.user_id: r for r in R.user_value_mad(ev).collect()}
    u1, u2 = out[1], out[2]
    assert (u1.n, u1.median, u1.mad, u1.n_outliers) == (4, 2.5, 1.0, 1)
    assert (u2.n, u2.median, u2.mad, u2.n_outliers) == (1, 5.0, 0.0, 0)


def test_profile_table_hand_computed_and_approx_path(spark):
    """Split exact-distinct profile against hand-counted stats, including
    null handling in every statistic; the approx (single-pass, no Expand)
    path returns the same rows with sketch-estimated distinct counts."""
    from cdc_stream_processor_spark.operators.profiling import profile_table

    rows = [
        (1, 10.0, "a"),
        (2, None, "b"),
        (3, 10.0, None),
        (4, 30.0, "a"),
    ]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    out = {r["column"]: r for r in profile_table(df, ["v"], ["s"]).collect()}
    assert set(out) == {"v", "s"}
    v, s = out["v"], out["s"]
    assert (v.n_rows, v.n_nulls, v.n_distinct) == (4, 1, 2)
    assert (v.min_num, v.max_num, v.sum_num) == (10.0, 30.0, 50.0)
    assert (v.min_str, v.max_str) == (None, None)
    assert (s.n_rows, s.n_nulls, s.n_distinct) == (4, 1, 2)
    assert (s.min_str, s.max_str) == ("a", "b")
    assert s.min_num is None and s.sum_num is None
    approx = {
        r["column"]: r
        for r in profile_table(df, ["v"], ["s"], exact_distinct=False).collect()
    }
    assert set(approx) == {"v", "s"}
    # HLL on tiny exact-cardinality inputs is exact
    assert approx["v"].n_distinct == 2 and approx["s"].n_distinct == 2


def test_doc_rarity_hand_computed(spark):
    """Vocabulary df ranks (df desc, term asc): 'common' df=3 -> rank 1,
    'mid' df=2 -> rank 2, 'rare'/'unique' df=1 -> ranks 3, 4 (term asc).
    Each doc's mean rank is its token ranks averaged with repeats."""
    from cdc_stream_processor_spark.operators import text as X

    docs = spark.createDataFrame(
        [
            (1, "common common mid"),
            (2, "common mid rare"),
            (3, "common unique"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.doc_rarity(docs).collect()}
    # ranks: common=1, mid=2, rare=3, unique=4
    assert (out[1].n_tokens, out[1].mean_rarity_rank) == (3, (1 + 1 + 2) / 3)
    assert (out[2].n_tokens, out[2].mean_rarity_rank) == (3, (1 + 2 + 3) / 3)
    assert (out[3].n_tokens, out[3].mean_rarity_rank) == (2, (1 + 4) / 2)


def test_order_value_gini_hand_computed(spark, tmp_path):
    """Gini of amounts [1,2,3] in one priority group:
    G = 2*(1*1+2*2+3*3)/(3*6) - 4/3 = 14/9 - 12/9 = 2/9; a uniform group
    ([5,5]) scores the exact two-point value 2*15/(2*10)-3/2 = 0."""
    import datetime as dt

    from cdc_stream_processor_spark import queries_relational as QR

    rows = [
        (1, "A", 1.0, dt.date(2024, 1, 1)),
        (2, "A", 2.0, dt.date(2024, 1, 2)),
        (3, "A", 3.0, dt.date(2024, 1, 3)),
        (4, "B", 5.0, dt.date(2024, 1, 4)),
        (5, "B", 5.0, dt.date(2024, 1, 5)),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, o_totalprice double,"
        " o_orderdate date",
    )
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {
        r.orderpriority: r
        for r in QR.q_order_value_gini(spark, str(tmp_path)).collect()
    }
    a, b = out["A"], out["B"]
    assert (a.n, a.total) == (3, 6.0)
    assert abs(a.gini - 2.0 / 9.0) < 1e-15
    assert (b.n, b.total, b.gini) == (2, 10.0, 0.0)


def test_benford_digits_hand_computed(spark, tmp_path):
    """First-digit counts per event type: values 19, 120, 1.5 all lead
    with 1; 95 leads with 9 — leading-digit extraction must ignore
    magnitude and decimal position; zero/negative values are excluded."""
    import datetime as dt

    from cdc_stream_processor_spark import queries_relational as QR

    ts = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, "view", 19.0, ts),
        (2, 7, "view", 120.0, ts),
        (3, 7, "view", 1.5, ts),
        (4, 7, "view", 95.0, ts),
        (5, 7, "view", -3.0, ts),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    )
    events.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        (r.event_type, r.digit): r
        for r in QR.q_benford_digits(spark, str(tmp_path)).collect()
    }
    assert out[("view", 1)].n == 3 and out[("view", 1)].frac == 0.75
    assert out[("view", 9)].n == 1 and out[("view", 9)].frac == 0.25
    assert len(out) == 2  # the negative value never enters


def test_winsorize_values_hand_computed(spark, tmp_path):
    """Eleven values 0..100 in one group: p5/p95 interpolate to 5 and 95
    (positions 0.5 and 9.5 on the sorted 0,1,..,9,100 ladder would differ —
    use 0..10 scaled by 10 so p5 = 5.0, p95 = 95.0 exactly); the outliers
    clip to the band edges and only they flag was_clipped."""
    import datetime as dt

    from cdc_stream_processor_spark import queries_relational as QR

    ts = dt.datetime(2024, 1, 1)
    rows = [
        (i, 7, "view", float(i * 10), ts) for i in range(11)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    )
    events.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.event_id: r for r in QR.q_winsorize_values(spark, str(tmp_path)).collect()}
    assert len(out) == 11
    # p5 over 0..100 step 10 interpolates at position 0.5 -> 5.0; p95 -> 95.0
    assert (out[0].clipped, out[0].was_clipped) == (5.0, True)
    assert (out[10].clipped, out[10].was_clipped) == (95.0, True)
    for i in range(1, 10):
        assert (out[i].clipped, out[i].was_clipped) == (float(i * 10), False)


# --- greedy longest-match subword segmentation ---------------------------------


def test_subword_vocab_counts_and_tiebreak(spark):
    """Corpus 'abab'×3, 'cd', 'xy': piece freqs ab=6 (two positions per
    occurrence), aba/abab/ba/bab=3 each, cd/xy=1. Top-5 ordering is
    freq desc then piece asc."""
    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab xy")], "doc_id long, text string"
    )
    got = [
        (r.piece, r.freq)
        for r in C.subword_vocab(docs, v=5).orderBy(
            F.col("freq").desc(), F.col("piece").asc()
        ).collect()
    ]
    assert got == [("ab", 6), ("aba", 3), ("abab", 3), ("ba", 3), ("bab", 3)]


def test_subword_segment_greedy_longest_match(spark):
    """v=2 learns {ab, aba}; greedy on 'abab' takes 'aba' (longest match
    at pos 0) then falls back to the single char 'b'; out-of-vocab words
    split to chars."""
    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab xy")], "doc_id long, text string"
    )
    out = {
        r.word: (r.freq, r.n_pieces, r.seg)
        for r in C.subword_segment(docs, v=2).collect()
    }
    assert out == {
        "abab": (3, 2, "aba b"),
        "cd": (1, 2, "c d"),
        "xy": (1, 2, "x y"),
    }


def test_subword_fertility_hand_computed(spark):
    """Two langs sharing the global vocab (v=2 learns {ab, aba}):
    'abab' segments to 2 pieces, 'cd'/'xy' to 2 chars each.
    en: words abab×2 + cd×1 → n_words 3, pieces 2·2+2=6,
    fertility 2000; chars (4·2+2)=10 → 10000/6 div = 1666.
    fr: abab×1 + xy×1 → n_words 2, pieces 4, fertility 2000,
    chars 6 → 1500."""
    from cdc_stream_processor_spark.queries_corpus import (  # noqa: F401
        q_subword_fertility,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab cd", "en"), (2, "abab xy", "fr")],
        "doc_id long, text string, lang string",
    )
    seg = C.subword_segment(docs, v=2).select("word", "n_pieces")
    lw = (
        docs.select("lang", F.explode(C.TH.tokens(F.col("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    out = {
        r.lang: (r.n_words, r.n_pieces_total, r.fertility_milli, r.cpp)
        for r in lw.join(seg, "word")
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
            F.expr("n_pieces_total * 1000 div n_words").alias("fertility_milli"),
            F.expr("n_chars_total * 1000 div n_pieces_total").alias("cpp"),
        )
        .collect()
    }
    assert out == {"en": (3, 6, 2000, 1666), "fr": (2, 4, 2000, 1500)}
