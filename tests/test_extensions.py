"""Tests for dedup / similarity / text-analysis extension operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_stream_processor_spark.operators import dedup as D
from cdc_stream_processor_spark.operators import similarity as S
from cdc_stream_processor_spark.operators import text as X
from cdc_stream_processor_spark.sources import batch as B


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes(spark):
    docs = _docs(
        spark,
        [
            (1, "Hello  World"),
            (2, "  hello world "),
            (3, "different text"),
        ],
    )
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base + " extra"),  # near-dup: high shingle overlap
            (3, "completely unrelated words about spark execution engines"),
        ],
    )
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.8


def test_simhash_identical_docs_equal_fp(spark):
    docs = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma")])
    fps = [r.simhash for r in D.simhash(docs).collect()]
    assert fps[0] == fps[1]


def test_simhash_pairs_pigeonhole_equiv_bruteforce(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents").limit(200)
    fps = D.simhash(docs).collect()
    brute = {
        (a.doc_id, b.doc_id)
        for a in fps
        for b in fps
        if a.doc_id < b.doc_id and bin(a.simhash ^ b.simhash).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert banded == brute


def test_ngram_jaccard_threshold(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h i"),  # 6 shared / 7 union of 3-grams
            (3, "z y x w v u t s"),
        ],
    )
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_brute_force_topk_self_excluded_and_ranked(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.brute_force_topk(emb.filter("vec_id = 1"), emb, k=2).collect()
    assert [r.neighbor_id for r in out] == [2, 3]
    assert out[0].rank == 1 and out[0].cosine_sim > 0.99


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    dim = len(emb.select("embedding").first()[0])
    exact = S.brute_force_topk(queries, emb, k=5).collect()
    approx = S.lsh_topk(queries, emb, dim=dim, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 16 tables x 4 planes + Hamming-1 multi-probe (the registered default):
    # measured 0.98 at sf0.001 AND sf0.01 — deterministic, so a pinned 0.9
    # floor catches any bucketing regression
    assert recall >= 0.9, f"LSH recall too low: {recall}"
    # multi-probe must strictly improve on the exact-bucket path
    plain = S.lsh_topk(queries, emb, dim=dim, k=5, probe_hamming=0).collect()
    plain_recall = len(exact_set & {(r.query_id, r.neighbor_id) for r in plain}) / len(
        exact_set
    )
    assert recall >= plain_recall


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = S.brute_force_topk(queries, emb, k=5).collect()
    approx = S.ivf_topk(queries, emb, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=8 of nlist=16: measured 0.86 (sf0.001) / 0.80 (sf0.01). The
    # synthetic corpus is near-uniform on the sphere, so IVF recall tracks
    # the probed fraction — 0.9 is unreachable without probing ~everything;
    # the floor pins the measured deterministic behavior instead.
    assert recall >= 0.8, f"IVF recall too low: {recall}"
    # every query must still return a full top-k
    per_query = {r.query_id for r in approx}
    assert per_query == {r.query_id for r in exact}


def test_ngram_jaccard_hot_shingle_guard_matches_exact(spark, sf_dir):
    """The document-frequency cutoff (reducer-skew guard) must not change
    results on the test corpus: candidates shrink but the exact
    array_intersect verify recovers every qualifying pair."""
    docs = B.load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    guarded = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=6
        ).collect()
    }
    assert guarded == exact and len(exact) > 0
    # non-vacuous: the cutoff actually removed shingles from the index
    from cdc_stream_processor_spark.functions import texthash as TH

    inv = (
        docs.select(TH.shingle_hashes(F.col("text"), k=3).alias("hs"))
        .select(F.explode("hs").alias("h"))
        .groupBy("h")
        .count()
    )
    assert inv.filter(F.col("count") > 6).count() > 0


def test_lsh_near_dup_matches_exact_pairs(spark, sf_dir):
    """At the default 2-plane × 32-table parameterization the analytic miss
    probability is < 1e-7 per pair at t ≥ 0.4, so the LSH-candidate path
    must reproduce the exact blocked all-pairs result on this corpus."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    exact = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in S.cosine_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in S.lsh_near_dup_pairs(emb, threshold=0.4, dim=dim).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_cosine_pairs_block_count_invariant(spark):
    """The blocked all-pairs kernel must emit the identical pair set for any
    block count (single-block, n-block, and more-blocks-than-rows)."""
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected = None
    for bs in (1, 4, 1000):
        got = sorted(
            (r.vec_a, r.vec_b, r.cosine_sim)
            for r in S.cosine_pairs(emb, threshold=0.3, block_size=bs).collect()
        )
        if expected is None:
            expected = got
        assert got == expected and len(got) > 0


def test_embedding_near_dup_drops_planted_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = S.cosine_pairs(emb, threshold=0.95).collect()
    assert [(p.vec_a, p.vec_b) for p in pairs] == [(1, 2)]
    kept = sorted(r.vec_id for r in S.embedding_near_dup(emb, 0.95).collect())
    assert kept == [1, 3]


def test_lang_id_heuristic(spark):
    docs = _docs(
        spark,
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "el gato que se sienta en la alfombra no es un perro"),
            (3, "xyzzy plugh qwerty"),
        ],
    )
    out = {r.doc_id: r.lang for r in docs.select(
        "doc_id", X.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_quality_score_orders_sensibly(spark):
    good = "the quick brown fox jumps over the lazy dog and that is a fine thing " * 4
    noisy = "@@@ ### 12345 !!! ??? %% ^^ && ** (( ))"
    docs = _docs(spark, [(1, good), (2, noisy)])
    out = {r.doc_id: r.q for r in docs.select(
        "doc_id", X.quality_score(F.col("text")).alias("q")).collect()}
    assert out[1] > 0.7 and out[2] < 0.2


def test_fingerprint_order_sensitive(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "c b a"), (3, "a b c")])
    out = {r.doc_id: r.fp for r in docs.select(
        "doc_id", X.doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[1] == out[3] and out[1] != out[2]


def test_token_counts(spark):
    docs = _docs(spark, [(1, "Hello, world! 123 foo-bar")])
    row = docs.select(
        X.token_count_ws(F.col("text")).alias("ws"),
        X.token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert row.ws == 4
    # Hello , world ! 123 foo - bar = 8
    assert row.bpe == 8


# --- multimodal plumbing -----------------------------------------------------


def _media(spark):
    import hashlib  # noqa: F401

    rows = [
        (1, "image", "image/png", b"fake-png-bytes-1", {"src": "t"}),
        (2, "video", "video/mp4", b"0123456789abcdefghij", {"src": "t"}),
        (3, "image", "image/png", b"", None),
        (4, "audio", "audio/wav", b"fake-wav-bytes-4", None),
    ]
    from cdc_stream_processor_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features_stub_deterministic(spark):
    import hashlib

    from cdc_stream_processor_spark.operators import multimodal as M

    out = {r.media_id: r for r in M.image_features(_media(spark)).collect()}
    assert set(out) == {1, 3}  # images only
    digest = hashlib.sha256(b"fake-png-bytes-1").digest()
    r = out[1]
    assert r.n_bytes == 16
    assert r.sha256 == hashlib.sha256(b"fake-png-bytes-1").hexdigest()
    assert r.width == 64 + digest[0] % 192
    assert r.height == 64 + digest[1] % 192
    assert abs(r.mean_luma - digest[2] / 255.0) < 1e-12
    assert len(r.feature) == 16


def test_image_features_real_decode_raises(spark):
    import pytest

    from cdc_stream_processor_spark.operators import multimodal as M

    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        M.image_features(_media(spark), decode_stub=False).collect()


def test_sample_frames_fanout(spark):
    from cdc_stream_processor_spark.operators import multimodal as M

    frames = M.sample_frames(_media(spark), every_n=5, max_frames=3).collect()
    # one video of 20 bytes -> 20//5=4 fake frames capped at 3
    assert [(f.media_id, f.frame_idx) for f in frames] == [(2, 0), (2, 1), (2, 2)]
    assert bytes(frames[1].frame_payload) == b"56789"


def test_media_from_documents_roundtrip(spark):
    from cdc_stream_processor_spark.operators import multimodal as M

    docs = _docs(spark, [(4, "vid doc"), (5, "aud doc"), (6, "img doc")])
    docs = docs.withColumn("source", F.lit("s"))
    media = {r.media_id: r for r in M.media_from_documents(docs).collect()}
    assert media[4].kind == "video"
    assert media[5].kind == "audio"
    assert media[6].kind == "image"
    assert bytes(media[6].payload) == b"img doc"


def test_audio_features_stub_deterministic(spark):
    import hashlib

    from cdc_stream_processor_spark.operators import multimodal as M

    out = {r.media_id: r for r in M.audio_features(_media(spark)).collect()}
    assert set(out) == {4}  # audio only
    digest = hashlib.sha256(b"fake-wav-bytes-4").digest()
    r = out[4]
    assert r.n_bytes == 16
    assert r.sample_rate == 8000 + digest[0] * 100
    assert abs(r.duration_s - (1.0 + digest[1] / 16.0)) < 1e-6
    assert abs(r.rms - digest[2] / 255.0) < 1e-6


def test_asof_join_semantics(spark):
    from cdc_stream_processor_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, 100),  # after both rights for key 10
            (2, 10, 45),   # exactly at right time 45 -> inclusive
            (3, 10, 5),    # before any right row -> null payload
            (4, 99, 50),   # key with no right rows at all
        ],
        "event_id long, k long, t long",
    )
    right = spark.createDataFrame(
        [
            (10, 40, 1, 111.0),
            (10, 45, 2, 222.0),  # tie on t=45 with seq 3 below
            (10, 45, 3, 333.0),  # wins tie (greater seq)
        ],
        "k long, rt long, seq long, val double",
    )
    out = {
        r.event_id: (r.seq, r.val)
        for r in asof_join(
            left, right,
            left_on="k", right_on="k",
            left_time="t", right_time="rt",
            right_seq="seq", payload=["seq", "val"],
        ).collect()
    }
    assert out[1] == (3, 333.0)      # most recent overall
    assert out[2] == (3, 333.0)      # inclusive bound + seq tie-break
    assert out[3] == (None, None)    # nothing at-or-before
    assert out[4] == (None, None)    # key never seen on right


def test_banded_range_join_matches_naive_and_avoids_nested_loop(spark):
    from cdc_stream_processor_spark.operators.relational import banded_range_join

    left = spark.createDataFrame(
        [(i, i % 3, i * 37 % 1000) for i in range(200)],
        "lid long, k long, lsec long",
    ).selectExpr("lid", "k", "timestamp_seconds(lsec) AS lt")
    right = spark.createDataFrame(
        [(i, i % 3, i * 53 % 1000) for i in range(150)],
        "rid long, k long, rsec long",
    ).selectExpr("rid", "k", "timestamp_seconds(rsec) AS rt")

    band = 60
    got = sorted(
        (r.lid, r.rid)
        for r in banded_range_join(
            left, right, "lt", "rt", band, extra_on=["k"]
        ).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.join(right, "k")
        .filter(F.abs(F.unix_timestamp("lt") - F.unix_timestamp("rt")) <= band)
        .collect()
    )
    assert got == naive and len(got) > 0

    plan = (
        banded_range_join(left, right, "lt", "rt", band, extra_on=["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan  # bucketing made it an equi join


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    from cdc_stream_processor_spark.plans import layout

    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    layout.write_bucketed(left, "t_bleft", ["k"], 4, path=str(tmp_path / "l"))
    layout.write_bucketed(right, "t_bright", ["k"], 4, path=str(tmp_path / "r"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bleft").join(spark.table("t_bright"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-located both sides
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_date_partitioned_write_prunes(spark, tmp_path):
    from cdc_stream_processor_spark.plans import layout

    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02")],
        "id long, dt string",
    )
    path = str(tmp_path / "part")
    layout.write_date_partitioned(df, path, ["dt"])
    scan = spark.read.parquet(path).filter(F.col("dt") == "2024-01-02")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert scan.count() == 2


def test_salted_join_matches_plain_join(spark):
    from cdc_stream_processor_spark.operators.relational import salted_join

    # hot key 7: 500 of 600 rows
    left = spark.range(0, 600).selectExpr(
        "CASE WHEN id < 500 THEN 7 ELSE id END AS k", "id AS lv"
    )
    right = spark.createDataFrame(
        [(7, "hot"), (550, "cold"), (999, "unmatched")], "k long, rv string"
    )
    plain = spark.createDataFrame(
        sorted(left.join(right, "k", "left").collect()),
        "k long, lv long, rv string",
    )
    salted = salted_join(left, right, ["k"], n_salts=4, how="left")
    assert sorted(salted.collect()) == sorted(plain.collect())
    import pytest

    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="full")


def test_sentiment_polarity(spark):
    docs = _docs(
        spark,
        [
            (1, "this is a good great wonderful day"),
            (2, "a terrible awful horrible failure"),
            (3, "good but also bad"),
            (4, "neutral words only here"),
        ],
    )
    out = {r.doc_id: r for r in X.document_sentiment(docs).collect()}
    assert out[1].sentiment == 1.0 and out[1].pos_hits == 3
    assert out[2].sentiment == -1.0
    assert out[3].sentiment == 0.0 and out[3].pos_hits == 1 and out[3].neg_hits == 1
    assert out[4].sentiment == 0.0 and out[4].pos_hits == 0


def test_minhash_survives_all_degenerate_batches(spark):
    """An Arrow batch in which EVERY doc drops (no shingles: empty/short
    docs — ubiquitous in web corpora at 100 TB) must yield nothing, not a
    mistyped empty frame: before r10 the kernel built the empty hs/mh
    columns as float64 ndarrays, which Arrow cannot convert to
    list<int64>, crashing the whole job with ArrowNotImplementedError
    (found by the exact-duplicate-recall hypothesis test). Exercises the
    all-degenerate corpus, the degenerate+normal mix, and the
    shingles-only (ngram) twin of the kernel."""
    from cdc_stream_processor_spark.operators import dedup as D

    degenerate = [(0, ""), (1, "aaaaaaaaaaaa"), (2, "one two")]
    # repartition(1): one Arrow batch holding ALL docs — the all-dropped case
    only_bad = spark.createDataFrame(
        degenerate, "doc_id long, text string"
    ).repartition(1)
    assert D.minhash_lsh_pairs(only_bad, threshold=0.0).collect() == []
    assert D.ngram_jaccard_pairs(only_bad, threshold=0.0).collect() == []

    twin = "alpha beta gamma delta epsilon zeta"
    mixed = spark.createDataFrame(
        degenerate + [(10, twin), (11, twin)], "doc_id long, text string"
    ).repartition(1)
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(mixed, threshold=1.0).collect()
    }
    assert pairs == {(10, 11): 1.0}  # the real twins pair; nothing crashes


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (diameter forces >1 propagation round), island {10,11},
    # and a triangle {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["id"]: r["rep"] for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    # the distributed label-propagation regime must agree exactly with the
    # small-graph union-find fast path (small_graph_limit=0 forces it)
    dist = {
        r["id"]: r["rep"]
        for r in D.connected_components(
            pairs, small_graph_limit=0
        ).collect()
    }
    assert dist == got


def test_connected_components_long_chain_distributed(spark):
    """A 60-node path graph: diameter 59 ⇒ the distributed regime must
    converge through pointer jumping (O(log d) rounds) well inside the
    25-round cap — a plain propagation loop would need 59 rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "doc_a long, doc_b long"
    )
    out = {
        r["id"]: r["rep"]
        for r in D.connected_components(
            pairs, small_graph_limit=0
        ).collect()
    }
    assert out == {i: 1 for i in range(1, 61)}


def test_minhash_dedup_keeps_one_per_cluster(spark, sf_dir):
    docs = B.load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    cc = D.connected_components(pairs)
    kept = D.minhash_dedup(docs, threshold=0.5)
    n_docs = docs.count()
    n_clustered = cc.count()
    n_clusters = cc.select("rep").distinct().count()
    # kept = unpaired docs + exactly one representative per cluster
    assert kept.count() == n_docs - n_clustered + n_clusters
    # every cluster representative survives; no non-representative does
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for row in cc.collect():
        assert (row["id"] in kept_ids) == (row["id"] == row["rep"])


def test_repetition_profile_flags_boilerplate(spark):
    normal = " ".join(
        f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(20)
    )  # 80 distinct tokens, mean alpha length ~4.75
    spammy = "buy now " * 60  # one bigram dominates
    dupl = "\n".join(["same line"] * 10)
    df = spark.createDataFrame(
        [(1, normal), (2, spammy), (3, dupl)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in X.repetition_profile(df).collect()}
    assert got[1]["keep"] and got[1]["top_bigram_frac"] < 0.18
    assert not got[2]["keep"] and got[2]["top_bigram_frac"] > 0.4
    assert not got[3]["keep"] and got[3]["dup_line_frac"] == 0.9
    # <2 tokens defines top_bigram_frac = 0
    one = spark.createDataFrame([(9, "solo")], "doc_id long, text string")
    assert X.repetition_profile(one).collect()[0]["top_bigram_frac"] == 0.0


def test_sessionize_splits_on_gap_and_single_shuffle(spark):
    from datetime import datetime, timedelta

    from cdc_stream_processor_spark.operators.relational import sessionize

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: 3 events 1 min apart, then a 9h gap, then 2 more
        (1, 1, t0, 1.0),
        (2, 1, t0 + timedelta(minutes=1), 2.0),
        (3, 1, t0 + timedelta(minutes=2), 3.0),
        (4, 1, t0 + timedelta(hours=9, minutes=2), 4.0),
        (5, 1, t0 + timedelta(hours=9, minutes=3), 5.0),
        # user 2: single event
        (6, 2, t0, 10.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = sessionize(events, gap_minutes=480)
    # exactly one data exchange (pre-AQE plan: the adaptive final plan
    # restates the exchange inside its query stage): the roll-up reuses the
    # window's hashpartitioning(user_id) because its keys are a superset
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    got = {(r.user_id, r.session_id): r for r in out.collect()}
    assert set(got) == {(1, 1), (1, 2), (2, 1)}
    assert got[(1, 1)].n_events == 3 and got[(1, 1)].total_value == 6.0
    assert got[(1, 2)].n_events == 2 and got[(1, 2)].total_value == 9.0
    assert got[(1, 1)].duration_us == 120_000_000
    assert got[(2, 1)].duration_us == 0


def test_funnel_requires_strict_order(spark):
    from datetime import datetime, timedelta

    from cdc_stream_processor_spark.operators.relational import funnel

    t0 = datetime(2024, 1, 1)

    def ev(eid, uid, mins, etype):
        return (eid, uid, t0 + timedelta(minutes=mins), etype)

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, 0, "signup"), ev(2, 1, 1, "view"),
        ev(3, 1, 2, "click"), ev(4, 1, 3, "purchase"),
        # user 2: purchase BEFORE click — stops at stage 2 (view),
        # the early purchase must not satisfy step 4
        ev(5, 2, 0, "signup"), ev(6, 2, 1, "view"),
        ev(7, 2, 2, "purchase"), ev(8, 2, 3, "click"),
        # user 3: no signup at all — stage 0 even with later steps present
        ev(9, 3, 0, "view"), ev(10, 3, 1, "click"), ev(11, 3, 2, "purchase"),
        # user 4: signup only
        ev(12, 4, 0, "signup"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r.user_id: r for r in funnel(events).collect()}
    assert out[1].funnel_stage == 4 and out[1].t4_us is not None
    assert out[2].funnel_stage == 3  # signup, view, click — not the early purchase
    assert out[2].t4_us is None
    assert out[3].funnel_stage == 0 and out[3].t1_us is None
    assert out[4].funnel_stage == 1
    # one shuffle: groupBy user, fold JVM-side — no window cascade, no joins
    plan = funnel(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_cohort_retention_counts_and_plan(spark):
    from datetime import datetime

    from cdc_stream_processor_spark.operators.relational import cohort_retention

    def ev(eid, uid, day, hour=0):
        return (eid, uid, datetime(2024, 1, day, hour))

    rows = [
        # users 1,2 first active day 1; user 1 returns day 2; both day 3
        ev(1, 1, 1), ev(2, 2, 1), ev(3, 1, 2), ev(4, 1, 3), ev(5, 2, 3),
        # user 3 joins day 2 only; duplicate same-day events collapse
        ev(6, 3, 2), ev(7, 3, 2, hour=5),
    ]
    events = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in cohort_retention(events).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 2,
        ("2024-01-02", 0): 1,
    }
    # one corpus-scale shuffle (user key); the rollup exchange is
    # cohorts x horizon sized
    plan = cohort_retention(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_resample_fills_gaps_with_zeros(spark):
    from datetime import datetime

    from cdc_stream_processor_spark.operators.relational import (
        DAY_US,
        resample_timeseries,
    )

    rows = [
        # user 1: active day 1 (twice) and day 4 — days 2,3 must appear as 0
        (1, 1, datetime(2024, 1, 1, 10), 1.5),
        (2, 1, datetime(2024, 1, 1, 11), 2.5),
        (3, 1, datetime(2024, 1, 4, 9), 4.0),
        # user 2: one day only — no fill
        (4, 2, datetime(2024, 1, 2, 0), 7.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {
        (r.user_id, r.bucket_idx): (r.n_events, r.total_value)
        for r in resample_timeseries(events).collect()
    }
    d1 = datetime(2024, 1, 1).timestamp() * 1_000_000 // DAY_US
    assert out[(1, d1)] == (2, 4.0)
    assert out[(1, d1 + 1)] == (0, 0.0)
    assert out[(1, d1 + 2)] == (0, 0.0)
    assert out[(1, d1 + 3)] == (1, 4.0)
    assert out[(2, d1 + 1)] == (1, 7.0)
    assert len(out) == 5


def test_rolling_zscore_flags_planted_spike(spark):
    from datetime import datetime, timedelta

    from cdc_stream_processor_spark.operators.relational import rolling_zscore

    t0 = datetime(2024, 1, 1)
    # steady alternating baseline, one 100x spike at event 10
    rows = [
        (i, 1, t0 + timedelta(minutes=i), 100.0 if i == 10 else 1.0 + (i % 2))
        for i in range(20)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r for r in rolling_zscore(events).collect()}
    assert out[10].is_anomaly and out[10].zscore > 2.0
    flagged = {eid for eid, r in out.items() if r.is_anomaly}
    assert 10 in flagged
    # the steady rows before the spike are never flagged
    assert not any(e in flagged for e in range(10))
    # both rolling sums share one Window operator / one shuffle
    plan = rolling_zscore(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_event_transitions_probabilities(spark):
    from datetime import datetime, timedelta

    from cdc_stream_processor_spark.operators.relational import event_transitions

    t0 = datetime(2024, 1, 1)
    # user 1: a->b->a->c ; user 2: a->b — transitions: a->b x2, b->a, a->c
    seq = [(1, "a"), (1, "b"), (1, "a"), (1, "c"), (2, "a"), (2, "b")]
    rows = [
        (i, uid, t0 + timedelta(minutes=i), etype)
        for i, (uid, etype) in enumerate(seq)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        (r.prev_type, r.next_type): (r.n_steps, r.p_transition)
        for r in event_transitions(events).collect()
    }
    assert out[("a", "b")] == (2, 2 / 3)
    assert out[("a", "c")] == (1, 1 / 3)
    assert out[("b", "a")] == (1, 1.0)
    # no cross-user transition (user1's c never precedes user2's a)
    assert ("c", "a") not in out


def test_tfidf_top_terms_ranks_rare_terms(spark):
    docs = _docs(
        spark,
        [
            (1, "common rare1 common common"),
            (2, "common other words"),
            (3, "common rare1 unique3"),
        ],
    )
    out = X.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: tf(common)=3, df=3 -> 3*(3/3)=3.0; tf(rare1)=1, df=2 -> 1.5
    d1 = {r.term: r for r in by_doc[1]}
    assert d1["common"].score == 3.0 and d1["common"].rank == 1
    assert d1["rare1"].score == 1.5 and d1["rare1"].rank == 2
    # doc 3: unique3 df=1 -> score 3.0 beats rare1 1.5 and common 1.0
    assert [r.term for r in sorted(by_doc[3], key=lambda r: r.rank)] == [
        "unique3",
        "rare1",
    ]
    # k respected
    assert all(len(v) <= 2 for v in by_doc.values())


def test_incremental_dedup_agrees_with_full_pair_list(spark, sf_dir):
    """Admit/reject vs corpus must match what the full-corpus pair list
    implies: a new doc is rejected iff it pairs (at the same threshold)
    with any corpus doc or an earlier doc of its own batch."""
    docs = B.load_table(spark, sf_dir, "documents")
    mod = 5
    new = docs.filter(F.col("doc_id") % mod == 0)
    corpus = docs.filter(F.col("doc_id") % mod != 0)
    got = {
        r.doc_id: (r.keep, r.n_dups)
        for r in D.incremental_dedup(new, corpus, threshold=0.5).collect()
    }
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    expect_dups: dict[int, set[int]] = {}
    for r in pairs:
        for a, b in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if a % mod == 0 and (b % mod != 0 or b < a):
                expect_dups.setdefault(a, set()).add(b)
    assert len(got) > 0
    for doc_id, (keep, n_dups) in got.items():
        want = expect_dups.get(doc_id, set())
        assert keep == (not want) and n_dups == len(want), doc_id


def test_bigram_lift_ranks_planted_collocation_first(spark):
    """Tokens that ONLY occur as a pair maximize lift: a planted 'alpha
    beta' collocation must outrank bigrams of independently-common
    words."""
    docs = [
        (i, "alpha beta " + "the cat sat on the mat and the dog ran " * 2)
        for i in range(10)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = X.bigram_lift_topk(df, k=5, min_count=5).collect()
    assert (out[0].w1, out[0].w2) == ("alpha", "beta")
    lifts = [r.lift for r in out]
    assert lifts == sorted(lifts, reverse=True)


def test_typo_pairs_blocking_finds_planted_typos(spark):
    """Planted single-char typos (substitution, deletion, transposition-ish)
    must surface through the deletion-neighborhood blocking with exact
    distances; unrelated words must not pair."""
    docs = [
        (1, "spark spark spork"),     # substitution: dist 1
        (2, "table tble cat"),        # deletion: dist 1
        (3, "window windwo dog"),     # adjacent swap: dist 2
        (4, "completely unrelated"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.tok_a, r.tok_b): r.dist for r in X.typo_pairs(df).collect()}
    assert got[("spark", "spork")] == 1
    assert got[("table", "tble")] == 1
    assert got[("window", "windwo")] == 2
    assert ("completely", "unrelated") not in got
    assert all(d <= 2 for d in got.values())


def test_knn_graph_matches_brute_force(spark, sf_dir):
    """The blocked kNN graph equals brute_force_topk run with the whole
    corpus as the query set (modulo column naming), for several block
    sizes — local per-combo pruning must never drop a true neighbor."""
    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B

    emb = B.load_table(spark, sf_dir, "embeddings").limit(120)
    expected = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in S.brute_force_topk(emb, emb, k=3).collect()
    }
    for bs in (7, 50, 4096):
        got = {
            (r["vec_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in S.knn_graph(emb, k=3, block_size=bs).collect()
        }
        assert got == expected, f"block_size={bs}"


def test_embedding_gram_partition_invariant_and_symmetric_source(spark, sf_dir):
    """Gram sums are integer-exact: repartitioning must not change a single
    value, and the diagonal must be non-negative."""
    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B

    emb = B.load_table(spark, sf_dir, "embeddings")
    a = {(r["i"], r["j"]): r["gram_q"] for r in S.embedding_gram(emb).collect()}
    b = {
        (r["i"], r["j"]): r["gram_q"]
        for r in S.embedding_gram(emb.repartition(13)).collect()
    }
    assert a == b
    assert all(v >= 0 for (i, j), v in a.items() if i == j)
    assert len(a) == 64 * 65 // 2


def test_pca_project_properties(spark, sf_dir):
    """pca_project: deterministic across runs/partitionings, components
    capture more second-moment energy than any remaining direction, and
    projection widths match n_components."""
    import numpy as np

    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B

    emb = B.load_table(spark, sf_dir, "embeddings")
    p1 = {r["vec_id"]: r["components"] for r in S.pca_project(emb, 4).collect()}
    p2 = {
        r["vec_id"]: r["components"]
        for r in S.pca_project(emb.repartition(7), 4).collect()
    }
    assert set(p1) == set(p2)
    for k in p1:
        assert np.allclose(p1[k], p2[k], atol=1e-9)
        assert len(p1[k]) == 4
    # energy ordering: variance along component 0 ≥ component 3
    M = np.array([p1[k] for k in sorted(p1)])
    second_moment = (M * M).sum(axis=0)
    assert second_moment[0] >= second_moment[-1]


def test_pagerank_hand_computed_and_partition_invariant(spark):
    """3-node cycle + a sink edge: replay the integer arithmetic by hand
    and require bit-equality; repartitioning must not change any value."""
    from cdc_stream_processor_spark.operators.graph import (
        PR_SCALE,
        pagerank,
    )

    # a -> b, b -> c, c -> a, a -> c   (a outdeg 2, b 1, c 1)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], ["src", "dst"]
    )
    got = {r["node"]: r["pr_q"] for r in pagerank(edges, n_iter=3).collect()}
    # hand replay
    n = 3
    tele = 15 * PR_SCALE // (100 * n)
    pr = {v: PR_SCALE // n for v in (0, 1, 2)}
    out = {0: 2, 1: 1, 2: 1}
    adj = [(0, 1), (1, 2), (2, 0), (0, 2)]
    for _ in range(3):
        g = {v: 0 for v in pr}
        for s, d in adj:
            g[d] += pr[s] // out[s]
        pr = {v: tele + (g[v] * 85) // 100 for v in pr}
    assert got == pr
    got2 = {
        r["node"]: r["pr_q"]
        for r in pagerank(edges.repartition(5), n_iter=3).collect()
    }
    assert got2 == got


def test_dup_spans_planted_and_partition_invariant(spark):
    from cdc_stream_processor_spark.operators.text import dup_spans

    shared = "one two three four five six seven eight"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " tail alpha beta"),
            (2, "head words here " + shared),
            (3, "completely different text with no overlap at all present"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dup_spans(docs, span_len=8).collect()}
    # the 8-token shared window occurs in docs 1 and 2
    assert out[1]["n_dup_windows"] >= 1 and out[2]["n_dup_windows"] >= 1
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_span_frac"] == 0.0
    assert out[1]["n_windows"] == 4  # 11 tokens -> 4 windows
    inv = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in dup_spans(docs.repartition(5), span_len=8).collect()
    }
    assert inv == {d: (r["n_windows"], r["n_dup_windows"]) for d, r in out.items()}


def test_batch_inference_chunking_and_determinism(spark, sf_dir):
    """The harness must produce identical vectors regardless of batch size
    or partitioning, and the scorer must see batches no larger than
    batch_size."""
    from cdc_stream_processor_spark.operators import inference as I
    from cdc_stream_processor_spark.sources import batch as B

    docs = B.load_table(spark, sf_dir, "documents").limit(100)

    def capped_scorer(texts):
        # executes in the Python worker: an oversized batch fails the task
        if len(texts) > 17:
            raise AssertionError(f"model batch of {len(texts)} > 17")
        return I.pseudo_embed_batch(texts)

    small = {
        r["doc_id"]: r["embedding"]
        for r in I.batch_inference(docs, scorer=capped_scorer, batch_size=17).collect()
    }
    big = {
        r["doc_id"]: r["embedding"]
        for r in I.batch_inference(docs.repartition(3), batch_size=1000).collect()
    }
    assert small == big
    assert all(len(v) == I.EMBED_DIM for v in small.values())


def test_chi2_terms_flags_planted_discriminative_token(spark):
    from cdc_stream_processor_spark.operators.text import chi2_terms_per_lang

    rows = []
    for i in range(30):
        rows.append((i, "en", "shared words here " + ("anglo token" if True else "")))
    for i in range(30, 60):
        rows.append((i, "fr", "shared words here gaulois jeton"))
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = chi2_terms_per_lang(docs, k=3)
    top = {(r["lang"], r["term_rank"]): r["term"] for r in out.collect()}
    # the perfectly-discriminative tokens rank first for their language
    assert top[("en", 1)] in ("anglo", "token")
    assert top[("fr", 1)] in ("gaulois", "jeton")


def test_contrastive_triplets_invariants(spark, sf_dir):
    """Every triplet's positive/negative must be the per-anchor best choice
    under the documented (jaccard DESC, id ASC) order, drawn from the true
    scored candidate set."""
    docs = B.load_table(spark, sf_dir, "documents")
    cands = D.minhash_scored_candidates(docs).collect()
    both = {}
    for r in cands:
        both.setdefault(r["doc_a"], []).append((r["doc_b"], r["jaccard"]))
        both.setdefault(r["doc_b"], []).append((r["doc_a"], r["jaccard"]))
    trips = D.contrastive_triplets(docs, pos_threshold=0.5, neg_threshold=0.2).collect()
    want_anchors = {
        a
        for a, os_ in both.items()
        if any(j >= 0.5 for _, j in os_) and any(j < 0.2 for _, j in os_)
    }
    assert {t["anchor"] for t in trips} == want_anchors
    for t in trips:
        os_ = both[t["anchor"]]
        best_pos = max(((j, -o) for o, j in os_ if j >= 0.5))
        best_neg = max(((j, -o) for o, j in os_ if j < 0.2))
        assert (t["positive_jaccard"], -t["positive_id"]) == best_pos
        assert (t["negative_jaccard"], -t["negative_id"]) == best_neg


def test_diversity_sample_covers_every_cluster(spark, sf_dir):
    emb = B.load_table(spark, sf_dir, "embeddings")
    cents = S.embedding_centroids(emb)
    out = S.diversity_sample(emb, cents, per_cluster=4).collect()
    by_cluster: dict[int, int] = {}
    for r in out:
        by_cluster[r["assigned_label"]] = by_cluster.get(r["assigned_label"], 0) + 1
    n_labels = cents.count()
    # every populated cluster is represented, capped at per_cluster
    assert len(by_cluster) == n_labels
    assert all(c <= 4 for c in by_cluster.values())
    # deterministic under repartitioning
    again = sorted(
        (r["vec_id"], r["draw_rank"])
        for r in S.diversity_sample(emb.repartition(7), cents, per_cluster=4).collect()
    )
    assert again == sorted((r["vec_id"], r["draw_rank"]) for r in out)


# --- semdedup -----------------------------------------------------------------


def test_semdedup_reps_are_component_minima_and_cluster_scoped(spark, sf_dir):
    from cdc_stream_processor_spark.operators import similarity as S

    emb = B.load_table(spark, sf_dir, "embeddings")
    out = S.semdedup(emb).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == emb.count()  # every vector receives a verdict
    for r in out:
        rep = by_id[r.rep_id]
        assert rep.kept  # representative of any component is kept
        assert r.rep_id <= r.vec_id  # min-id representative
        assert rep.cluster == r.cluster  # dedup never crosses clusters
    # with no near-dups above tau the operator is the identity keep-all;
    # at tau low enough some component must form on this corpus
    dropped = [r for r in out if not r.kept]
    lo = S.semdedup(emb, threshold=0.2).collect()
    assert sum(not r.kept for r in lo) >= len(dropped)


def test_cosine_pairs_part_scoping_subsets_global_pairs(spark, sf_dir):
    from cdc_stream_processor_spark.operators import similarity as S

    emb = B.load_table(spark, sf_dir, "embeddings")
    scoped = {
        (r.vec_a, r.vec_b)
        for r in S.cosine_pairs(
            emb, threshold=0.3, part_col="label"
        ).collect()
    }
    global_ = {
        (r.vec_a, r.vec_b)
        for r in S.cosine_pairs(emb, threshold=0.3).collect()
    }
    assert scoped <= global_
    # scoping must agree with the label of both endpoints
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[a] == labels[b] for a, b in scoped)
    expected = {(a, b) for a, b in global_ if labels[a] == labels[b]}
    assert scoped == expected


# --- kmeans_labels ------------------------------------------------------------


def test_kmeans_separates_planted_clusters(spark):
    from cdc_stream_processor_spark.operators import similarity as S

    pts = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
        (3, [5.0, 5.0]), (4, [5.1, 5.0]), (5, [5.0, 5.1]),
    ]
    emb = spark.createDataFrame(pts, ["vec_id", "embedding"])
    out = {r.vec_id: r.cluster for r in S.kmeans_labels(emb, k=2, iters=3).collect()}
    assert {out[0], out[1], out[2]} == {out[0]}  # one cluster
    assert {out[3], out[4], out[5]} == {out[3]}  # the other
    assert out[0] != out[3]


def test_kmeans_empty_cluster_drops_and_survivors_keep_ids(spark):
    """Seeds are the 2 lowest-id vectors; ids 0 and 1 carry IDENTICAL
    vectors, so every point's distances to the two seeds tie and break to
    the smaller cluster id — cluster 1 receives no members in round 1 and
    must drop out (no renumber, no crash), leaving every point in
    cluster 0."""
    from cdc_stream_processor_spark.operators import similarity as S

    pts = [
        (0, [1.0, 1.0]), (1, [1.0, 1.0]),
        (2, [2.0, 2.0]), (3, [5.0, 5.0]),
    ]
    emb = spark.createDataFrame(pts, ["vec_id", "embedding"])
    out = {r.vec_id: r.cluster for r in S.kmeans_labels(emb, k=2, iters=3).collect()}
    assert len(out) == 4
    assert set(out.values()) == {0}  # cluster 1 emptied and dropped


def test_kmeans_is_partitioning_invariant(spark, sf_dir):
    from cdc_stream_processor_spark.operators import similarity as S

    emb = B.load_table(spark, sf_dir, "embeddings")
    a = sorted(
        (r.vec_id, r.cluster, r.sq_dist)
        for r in S.kmeans_labels(emb).collect()
    )
    b = sorted(
        (r.vec_id, r.cluster, r.sq_dist)
        for r in S.kmeans_labels(emb.repartition(13)).collect()
    )
    assert a == b


def test_containment_catches_embedded_quote_jaccard_misses(spark):
    from cdc_stream_processor_spark.operators import dedup as D

    quote = "alpha beta gamma delta epsilon"
    host = quote + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, host)], ["doc_id", "text"]
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(docs, threshold=0.9).collect()
    }
    # every shingle of the quote appears in the host: C(1->2) = 1.0
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # the big host is NOT contained in the quote
    jac = D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []  # resemblance misses the asymmetric relation


def test_rp_project_is_an_expected_isometry(spark, sf_dir):
    """The +-1 JL matrix preserves norms IN EXPECTATION (E||y||^2 =
    ||x||^2): per-vector ratios scatter (std ~ sqrt(2/r) ~ 0.35 at r=16)
    but the corpus mean must concentrate near 1 — the property that makes
    projected distances usable for candidate generation. (Pairwise-order
    correlation is NOT asserted: this corpus's pairwise distances are
    near-uniform, so JL noise dominates ordering at r=16 by design.)"""
    from cdc_stream_processor_spark.operators import similarity as S

    emb = B.load_table(spark, sf_dir, "embeddings")
    orig = {r.vec_id: list(map(float, r.embedding)) for r in emb.collect()}
    proj = {r.vec_id: r.proj for r in S.rp_project(emb).collect()}
    assert set(proj) == set(orig)
    assert all(len(p) == S.RP_DIMS for p in proj.values())
    ratios = []
    for vid, x in orig.items():
        nx = sum(t * t for t in x)
        ny = sum(t * t for t in proj[vid])
        if nx > 0:
            ratios.append(ny / nx)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15


def test_triangle_counts_on_known_graph(spark):
    from cdc_stream_processor_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}: every vertex sits in C(3,2)=3 triangles; vertex 5
    # hangs off vertex 1 and closes nothing. Directions/duplicates must
    # not double-count.
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges += [(1, 5), (5, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r.vertex: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_bigram_lm_score_hand_computed(spark):
    """3-doc toy corpus: verify exact smoothed probabilities and that a
    fluent (common-continuation) doc outscores a garbled one."""
    docs = _docs(
        spark,
        [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "zx qv the"),
        ],
    )
    out = {r.doc_id: r for r in X.bigram_lm_score(docs).collect()}
    # vocab = {the,cat,sat,ran,zx,qv} -> V=6
    # histories: c(the·)=2 via (the,cat)x2; c(cat·)=2; c(zx·)=1; c(qv·)=1
    # doc1: (the,cat): (2+1)/(2+6)=0.375 ; (cat,sat): (1+1)/(2+6)=0.25
    import math

    exp1 = (math.floor(3 / 8 * 1e9) + math.floor(2 / 8 * 1e9)) / 2
    assert out[1].n_bigrams == 2
    assert out[1].mean_scaled_p == exp1
    # doc3's bigrams (zx,qv),(qv,the) are singletons over singleton
    # histories: (1+1)/(1+6) each
    exp3 = math.floor(2 / 7 * 1e9) / 1  # mean of two equal values
    assert out[3].mean_scaled_p == exp3
    assert out[1].mean_scaled_p > out[3].mean_scaled_p


def test_bigram_lm_score_drops_sub_bigram_docs(spark):
    docs = _docs(spark, [(1, "single"), (2, "two tokens")])
    rows = X.bigram_lm_score(docs).collect()
    assert [r.doc_id for r in rows] == [2]


def test_pq_codes_planted_subspace_clusters(spark):
    """Vectors built from 2 prototype subvectors per subspace (+0 noise):
    PQ with ksub=2 must reach recon_err == 0 and assign equal codes to
    equal subvectors."""
    import itertools

    from cdc_stream_processor_spark.operators import similarity as S

    protos = {0: [1.0, 2.0, 3.0, 4.0], 1: [-1.0, 0.5, 2.5, -3.0]}
    # combo order puts (0,0) and (1,1) at the 2 lowest ids so the per-
    # subspace seeds (ksub lowest vec_ids) are DISTINCT subvectors —
    # duplicate seeds would collapse k-means to one cluster by design
    combos = [(0, 0), (1, 1), (0, 1), (1, 0)]
    rows = []
    for rep in range(3):  # replicate so clusters have mass
        for c, (c1, c2) in enumerate(combos):
            rows.append((rep * 4 + c, protos[c1] + protos[c2]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in S.pq_codes(vecs, m=2, ksub=2, iters=3).collect()
    }
    assert len(out) == 12
    assert all(r.recon_err == 0.0 for r in out.values())
    assert all(len(r.codes) == 2 for r in out.values())
    # identical vectors share identical code words
    for c in range(4):
        codes = {tuple(out[rep * 4 + c].codes) for rep in range(3)}
        assert len(codes) == 1
    # different combos get different code words
    assert len({tuple(out[c].codes) for c in range(4)}) == 4


def test_pq_codes_code_range_and_coverage(spark, sf_dir):
    from cdc_stream_processor_spark.operators import similarity as S
    from cdc_stream_processor_spark.sources import batch as B
    from pyspark.sql import functions as F

    vecs = B.load_table(spark, sf_dir, "embeddings")
    out = S.pq_codes(vecs)
    n = vecs.count()
    assert out.count() == n
    bad = out.filter(
        F.exists(
            "codes", lambda c: (c < 0) | (c >= F.lit(S.PQ_KSUB))
        )
    ).count()
    assert bad == 0
    assert out.filter(F.size("codes") != S.PQ_M).count() == 0
    assert out.filter(F.col("recon_err") < 0).count() == 0


def test_pq_adc_planted_duplicate_is_rank_one(spark):
    """A query identical to a corpus vector must rank its twin first, and
    the ADC distance to the twin equals the twin's PQ reconstruction
    error exactly (both are the distance to the twin's reconstructed
    codeword — same folds, same order)."""
    rows = [
        (i, [float((i * 13 + j * 5) % 17) - 8.0 for j in range(8)])
        for i in range(24)
    ]
    rows.append((100, list(rows[3][1])))  # exact duplicate of vec 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.pq_adc_topk(
        emb.filter("vec_id = 100"), emb, k=3, m=2, ksub=4, iters=2
    ).collect()
    assert out[0].neighbor_id == 3 and out[0].rank == 1
    recon = {
        r.vec_id: r.recon_err
        for r in S.pq_codes(emb, m=2, ksub=4, iters=2).collect()
    }
    assert out[0].approx_sq_dist == recon[3]


def test_pq_adc_pivot_fold_matches_collect_list_fold(spark, sf_dir):
    """r13: the scored aggregation pivots the per-subspace LUT distances
    into m SUM columns added left-to-right (0.0 + ld_0 + … + ld_{m-1})
    instead of collect_list + sort_array + an interpreted HOF fold. Both
    are the same IEEE op sequence, so every approx_sq_dist must be
    BIT-identical on the real corpus, not merely close."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    new = S.pq_adc_topk(queries, emb, k=5)
    # reference: the pre-r13 fold, reconstructed from the same internals
    assigned, cents = S._pq_train(
        emb, S.PQ_M, S.PQ_KSUB, S.PQ_ITERS, "vec_id", "embedding"
    )
    codes = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "sub", "cluster"
    )
    qs = S._pq_subvectors(queries, S.PQ_M, "vec_id", "embedding").select(
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
    old_scored = (
        codes.join(lut, ["sub", "cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("sub", "ld"))),
                        lambda t: t.getField("ld"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("approx_sq_dist")
        )
    )
    old = S.top_k_per_group(
        old_scored,
        ["query_id"],
        [F.col("approx_sq_dist").asc(), F.col("neighbor_id").asc()],
        5,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "approx_sq_dist", "rank")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_pq_adc_recall_floor_and_shape(spark, sf_dir):
    """Uniform-sphere corpus = PQ's worst case; the floor pins the
    measured deterministic recall (0.24–0.30 at m=8/ksub=16), not a
    production claim — see the operator docstring."""
    emb = B.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(queries, emb, k=5).collect()}
    adc = S.pq_adc_topk(queries, emb, k=5).collect()
    adc_set = {(r.query_id, r.neighbor_id) for r in adc}
    recall = len(exact & adc_set) / len(exact)
    assert recall >= 0.2, f"ADC recall regressed: {recall}"
    # full top-k per query, distances non-negative and rank-ordered
    per_q = {}
    for r in adc:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        ds = [r.approx_sq_dist for r in rs]
        assert ds == sorted(ds) and ds[0] >= 0.0


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    """Query along x: candidates are two near-identical high-rel vectors
    (a, a') and one moderately relevant orthogonal-ish vector b. Plain
    top-2 = {a, a'}; MMR at λ=0.7 must pick {a, b} — the redundant twin
    is penalized by its ~1.0 similarity to the first pick."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # query
        (1, [0.99, 0.14, 0.0, 0.0]),    # a  (rel ~.990)
        (2, [0.99, 0.141, 0.0, 0.0]),   # a' (rel ~.990, sim(a,a') ~ 1)
        (3, [0.7, 0.0, 0.71, 0.0]),     # b  (rel ~.70, far from a)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    plain = [
        r.neighbor_id
        for r in sorted(
            S.brute_force_topk(q, emb, k=2).collect(), key=lambda r: r.rank
        )
    ]
    mmr = [
        r.neighbor_id
        for r in sorted(
            S.mmr_rerank(q, emb, k=2, pool=3, lam=0.3).collect(),
            key=lambda r: r.mmr_rank,
        )
    ]
    assert set(plain) == {1, 2}
    assert mmr[0] in (1, 2) and mmr[1] == 3


def test_mmr_rerank_pool_smaller_than_k_stops_early(spark):
    """Corpus of 3 vectors, k=5: each query has only 2 candidates
    (self excluded), so the greedy kernel must emit exactly 2 ranks per
    query and stop — no padding, no crash on the exhausted pool."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    out = sorted(
        S.mmr_rerank(q, emb, k=5, pool=5).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert [r.mmr_rank for r in out] == [1, 2]
    assert {r.neighbor_id for r in out} == {1, 2}


def test_mmr_rank_one_equals_top_relevance(spark, sf_dir):
    emb = B.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    top1 = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, emb, k=1).collect()
    }
    mmr1 = {
        (r.query_id, r.neighbor_id)
        for r in S.mmr_rerank(q, emb).collect()
        if r.mmr_rank == 1
    }
    assert mmr1 == top1


def test_lang_id_confusion_planted_and_corpus_shape(spark, sf_dir):
    # planted multilingual docs -> perfect diagonal
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of it", "en"),
            (2, "el que y la de un los se", "es"),
            (3, "le et les des une du est", "fr"),
            (4, "der die und das von zu mit", "de"),
            (5, "zzz qqq xxx", "zh"),  # no stopwords -> und
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r.lang_true, r.lang_pred): r for r in
           X.lang_id_confusion(docs).collect()}
    for lg in ("en", "es", "fr", "de"):
        assert out[(lg, lg)].share == 1.0
    assert out[("zh", "und")].share == 1.0
    # corpus shape: shares sum to 1 per true lang (the synthetic corpus
    # text is English-like under every label -- the matrix REPORTS that,
    # predictions land in en/und)
    rows = X.lang_id_confusion(
        B.load_table(spark, sf_dir, "documents")
    ).collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r.lang_true, []).append(r)
    for lang, rs in by_true.items():
        assert abs(sum(r.share for r in rs) - 1.0) < 1e-9
        assert {r.lang_pred for r in rs} <= set(X.LANG_ORDER) | {"und"}


def test_readability_orders_prose_above_wordlist(spark):
    docs = _docs(
        spark,
        [
            (1, "The cat sat. It was happy. We saw it there."),
            (2, "antidisestablishmentarianism electroencephalographically"
                " incomprehensibilities floccinaucinihilipilification"),
        ],
    )
    out = {r.doc_id: r for r in X.readability_scores(docs).collect()}
    # short-sentence short-word prose scores far higher than the
    # single-"sentence" polysyllabic word list
    assert out[1].flesch > 80
    assert out[2].flesch < out[1].flesch - 50
    assert out[2].n_sentences == 1


def test_df_memo_distinguishes_inputs_params_and_hits(spark):
    """The process-level memo must NEVER false-hit: different input plans
    (different filters) and different params build separately; the same
    (input, params) returns the identical checkpointed result."""
    import pyspark.sql.functions as F

    from cdc_stream_processor_spark.operators import memo as M

    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    a, b = base.filter(F.col("id") < 50), base.filter(F.col("id") >= 50)
    assert M.plan_fingerprint(a) != M.plan_fingerprint(b)
    # same logical query re-derived → same fingerprint despite new exprIds
    a2 = base.filter(F.col("id") < 50)
    assert M.plan_fingerprint(a) == M.plan_fingerprint(a2)

    calls = []

    def make(df, tag):
        def build():
            calls.append(tag)
            return (df.groupBy("v").count(),)

        return build

    app = spark.sparkContext.applicationId
    ka = ("t", app, M.plan_fingerprint(a), 1)
    kb = ("t", app, M.plan_fingerprint(b), 1)
    ka2 = ("t", app, M.plan_fingerprint(a), 2)  # same input, other param
    ra = M.df_memo(ka, make(a, "a"))[0]
    rb = M.df_memo(kb, make(b, "b"))[0]
    ra_hit = M.df_memo(ka, make(a, "a-again"))[0]
    M.df_memo(ka2, make(a, "a-p2"))
    assert calls == ["a", "b", "a-p2"]  # hit did not rebuild
    assert ra is ra_hit
    assert {r.v for r in ra.collect()} == {r.v for r in rb.collect()}


def test_memoized_rebuilds_after_input_overwrite(spark, tmp_path, monkeypatch):
    """Overwriting a memoized operator's input path in the same session
    leaves the analyzed plan unchanged; the input-file part of the key
    must still force a rebuild, so the second call sees the new rows."""
    from cdc_stream_processor_spark.operators import memo as M

    monkeypatch.setattr(M, "_MEMO", {})
    path = str(tmp_path / "docs")
    _docs(spark, [(1, "a b c d"), (2, "e f g h")]).write.parquet(path)
    first = {r.doc_id for r in D.minhashes(spark.read.parquet(path)).collect()}
    assert first == {1, 2}
    _docs(
        spark, [(7, "a b c d"), (8, "e f g h"), (9, "i j k l")]
    ).write.mode("overwrite").parquet(path)
    again = {r.doc_id for r in D.minhashes(spark.read.parquet(path)).collect()}
    assert again == {7, 8, 9}


def test_memoized_routes_through_df_memo(spark, monkeypatch):
    """Decorated operators must store and look up through the module-level
    ``memo.df_memo``: the benchmark counts memo calls and builds by
    replacing that attribute, and would silently read 0 otherwise."""
    from cdc_stream_processor_spark.operators import memo as M
    from cdc_stream_processor_spark.operators.graph import label_propagation

    monkeypatch.setattr(M, "_MEMO", {})
    orig = M.df_memo
    calls, builds = [], []

    def counting(key, builder):
        calls.append(key)

        def counted():
            builds.append(key)
            return builder()

        return orig(key, counted)

    monkeypatch.setattr(M, "df_memo", counting)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    first = label_propagation(edges, n_rounds=2)
    again = label_propagation(edges, n_rounds=2)
    assert (len(calls), len(builds)) == (2, 1)
    assert again is first


def test_top_k_per_group_tie_break_and_plan(spark):
    """The per-group top-k primitive: deterministic tie-break through the
    unique order column, exact k cutoff, and the WindowGroupLimit rank
    pushdown in the plan (no full per-group sort surviving past k)."""
    from cdc_stream_processor_spark.operators import relational as R

    rows = [
        ("g1", 1, 10), ("g1", 2, 10), ("g1", 3, 5),
        ("g2", 4, 7),
    ]
    df = spark.createDataFrame(rows, "g string, id long, score long")
    out = R.top_k_per_group(
        df, ["g"], [F.col("score").desc(), F.col("id").asc()], 2
    )
    got = sorted((r.g, r.rn, r.id) for r in out.collect())
    # score tie at 10 breaks to the smaller id
    assert got == [("g1", 1, 1), ("g1", 2, 2), ("g2", 1, 4)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_global_top_k_is_take_ordered(spark):
    from cdc_stream_processor_spark.operators import relational as R

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 17).alias("v"))
    out = R.global_top_k(df, [F.col("v").desc(), F.col("id").asc()], 3)
    assert [(r.v, r.id) for r in out.collect()] == [(16, 16), (16, 33), (16, 50)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_key_skew_profile_hand_computed(spark):
    """Exact skew ratios: key counts (6, 2, 2) over 10 rows and 3 keys give
    ratios cnt*3/10 — 1.8 for the hot key, 0.6 for the uniform ones; top-k
    ordering is (cnt desc, key asc)."""
    from cdc_stream_processor_spark.operators.profiling import key_skew_profile

    rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = [(r.key, r.cnt, r.skew_ratio) for r in key_skew_profile(df, "k", top_k=2).collect()]
    assert out == [("a", 6, 1.8), ("b", 2, 0.6)]


def test_probe_masks_hamming_neighborhood(spark):
    from cdc_stream_processor_spark.operators import similarity as Ssim

    assert Ssim.probe_masks(3, 0) == [0]
    assert Ssim.probe_masks(3, 1) == [0, 1, 2, 4]
    assert sorted(Ssim.probe_masks(3, 2)) == [0, 1, 2, 3, 4, 5, 6]


def test_ltv_cohort_curve_hand_computed(spark):
    """Two customers acquired in 2024-01 (cohort size 2), one in 2024-02:
    cohort-1 revenue accumulates 100 -> 100+50+30, so its LTV curve is
    50.0 then 90.0; the single-customer cohort reads its own totals."""
    import datetime as dt
    from cdc_stream_processor_spark.operators import relational as R

    rows = [
        (1, dt.date(2024, 1, 5), 100.0),
        (2, dt.date(2024, 1, 20), 0.0),
        (1, dt.date(2024, 2, 1), 50.0),
        (2, dt.date(2024, 2, 10), 30.0),
        (3, dt.date(2024, 2, 15), 7.0),
    ]
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date, o_totalprice double"
    )
    out = {
        (r.cohort_month, r.months_since): r
        for r in R.ltv_cohort_curve(orders).collect()
    }
    m_jan = 2024 * 12 + 0
    c10 = out[(m_jan, 0)]
    assert (c10.n_customers, c10.cum_revenue, c10.ltv) == (2, 100.0, 50.0)
    c11 = out[(m_jan, 1)]
    assert (c11.n_customers, c11.cum_revenue, c11.ltv) == (2, 180.0, 90.0)
    c20 = out[(m_jan + 1, 0)]
    assert (c20.n_customers, c20.cum_revenue, c20.ltv) == (1, 7.0, 7.0)
    assert len(out) == 3


def test_label_propagation_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: LPA keeps them as two
    communities (CC would merge them) — hand-simulated sync min-tie
    self-vote rounds: after 3 rounds {1,2,3} -> 1 and {4,5,6} -> 4."""
    from cdc_stream_processor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    got = {r.node: r.community for r in label_propagation(edges, n_rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_label_propagation_directed_input_symmetrized(spark):
    """One directed edge still propagates both ways (symmetrize), and
    the self-vote prevents the 2-cycle label swap: both endpoints
    converge to the min id."""
    from cdc_stream_processor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(9, 2)], "src long, dst long")
    got = {r.node: r.community for r in label_propagation(edges, n_rounds=2).collect()}
    assert got == {2: 2, 9: 2}


def test_label_propagation_memo_hit_is_identical(spark):
    """The r12 LPA memo (shared by knn_communities and
    community_conductance) must return bit-identical communities on a
    repeat call with the same edges/rounds, and must NOT hit across a
    different round count or a different edge set."""
    from cdc_stream_processor_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    first = sorted(
        (r.node, r.community)
        for r in label_propagation(edges, n_rounds=3).collect()
    )
    again = sorted(
        (r.node, r.community)
        for r in label_propagation(edges, n_rounds=3).collect()
    )
    assert first == again
    # different rounds -> different key -> a genuine recompute
    one_round = {
        r.node: r.community
        for r in label_propagation(edges, n_rounds=1).collect()
    }
    # exact 1-round result (hand-unrolled min-tie synchronous LPA with
    # self-vote): 1,2,3 each see an all-distinct vote set → min label 1;
    # 4 sees {3,4,5,6} → 3; 5 and 6 see {4,5,6} → 4. This differs from
    # the 3-round fixpoint at node 4 (3 vs 4), so a memo-key collision
    # across n_rounds would return the wrong table here (r12 ADVICE: the
    # old disjunction was vacuously true whenever node counts matched).
    assert one_round == {1: 1, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4}
    assert one_round != dict(first)
    # different edges must not collide with the memoized 2-triangle graph
    other = spark.createDataFrame([(7, 8)], "src long, dst long")
    got = {
        r.node: r.community
        for r in label_propagation(other, n_rounds=3).collect()
    }
    assert got == {7: 7, 8: 7}


def test_hard_negative_topk_excludes_same_label(spark):
    """The globally nearest neighbor shares the query's label and must be
    excluded; ranking covers only different-label vectors."""
    from cdc_stream_processor_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], 7),      # query (vec_id % 50 == 0)
        (1, [0.99, 0.01], 7),    # nearest overall, SAME label -> excluded
        (2, [0.9, 0.1], 8),
        (3, [0.0, 1.0], 8),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negative_topk(df, k=2, query_stride=50).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in out] == [
        (0, 2, 1),
        (0, 3, 2),
    ]
    assert all(r.q_label == 7 and r.neg_label == 8 for r in out)
    assert out[0].cosine_sim > out[1].cosine_sim


def test_kcenter_greedy_hand_computed(spark):
    """4 points on the unit circle-ish: seed = min id; each round adds
    the point with smallest max-cosine to the chosen set (farthest)."""
    from cdc_stream_processor_spark.operators.similarity import (
        kcenter_centers,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.045]),   # near-duplicate of 1
        (3, [0.0, 1.0]),       # orthogonal to 1
        (4, [-1.0, 0.0]),      # opposite of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.rank: r for r in kcenter_centers(df, k=3).collect()}
    assert out[0].vec_id == 1 and out[0].sel_maxcos is None
    # round 1: maxcos to {1}: p2~0.999, p3=0.0, p4=-1.0 -> pick 4
    assert out[1].vec_id == 4 and out[1].sel_maxcos == -1.0
    # round 2: maxcos to {1,4}: p2~0.999, p3=max(0,0)=0 -> pick 3
    assert out[2].vec_id == 3 and out[2].sel_maxcos == 0.0


def test_kcenter_fewer_points_than_k(spark):
    from cdc_stream_processor_spark.operators.similarity import (
        kcenter_centers,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = kcenter_centers(df, k=5).collect()
    assert [r.vec_id for r in out] == [1, 2]  # stops when ids exhaust


def test_kcenter_runs_one_job_per_round(spark):
    """Each round's lazy localCheckpoint is filled by that round's argmin
    probe, which computes every partition: a round costs exactly one job.
    A probe that stopped reading every partition would leave checkpoint
    blocks missing, and the next round would pay a catch-up job."""
    import math

    from cdc_stream_processor_spark.operators.similarity import (
        kcenter_centers,
    )

    # a local relation of 40 rows spreads over several partitions with no
    # shuffle, so every job below is a seed or probe job
    df = spark.createDataFrame(
        [(i, [math.cos(i), math.sin(i)]) for i in range(1, 41)],
        "vec_id long, embedding array<float>",
    )
    sc = spark.sparkContext

    def jobs(k):
        group = f"kcenter-one-job-per-round-{k}"
        sc.setJobGroup(group, group)
        try:
            assert len(kcenter_centers(df, k=k).collect()) == k
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # k = 1 runs only the seed pick; every further center is one round
    seed = jobs(1)
    assert [jobs(k) - seed for k in (2, 4)] == [1, 3]


def test_resize_images_letterbox_math(spark):
    """Resize plan: dims replay the stub decode from sha256 bytes; out
    dims are floor(side * min-scale) and fit inside the target box; the
    resized identity is sha256(payload || ':WxH')."""
    import hashlib as _hl

    from cdc_stream_processor_spark.operators.multimodal import (
        resize_images,
    )

    payloads = [b"alpha", b"a much longer binary payload \x00\x01"]
    media = spark.createDataFrame(
        [(i, "image", p) for i, p in enumerate(payloads)]
        + [(99, "audio", b"skip-me")],
        "media_id long, kind string, payload binary",
    )
    out = {r.media_id: r for r in resize_images(media, 224, 224).collect()}
    assert set(out) == {0, 1}  # non-images filtered
    for i, p in enumerate(payloads):
        d = _hl.sha256(p).digest()
        w, h = 64 + d[0] % 192, 64 + d[1] % 192
        r = out[i]
        assert (r.src_w, r.src_h) == (w, h)
        scale = min(224.0 / w, 224.0 / h)
        assert r.scale == scale
        import math
        assert (r.out_w, r.out_h) == (math.floor(w * scale), math.floor(h * scale))
        assert r.out_w <= 224 and r.out_h <= 224 and max(r.out_w, r.out_h) >= 223
        assert r.resized_sha == _hl.sha256(p + b":224x224").hexdigest()
