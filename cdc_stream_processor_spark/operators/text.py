"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (regex + higher-order array functions) —
whole-stage-codegen friendly, oracle-checkable, and embarrassingly parallel
(no shuffle at all: every operator is a map over documents).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_stream_processor_spark.functions import texthash as TH
from cdc_stream_processor_spark.plans.layout import ensure_parallelism

# Small stopword profiles for the n-gram/stopword language heuristic.
# Deterministic tie-break: first language in this order wins ties.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
}
LANG_ORDER = ("en", "es", "fr", "de")

BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(TH.tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punctuation."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def lang_scores(text: Column) -> dict[str, Column]:
    toks = F.array_distinct(TH.tokens(text))
    return {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax stopword overlap; 'und' when no stopwords hit at all."""
    scores = lang_scores(text)
    best = F.greatest(*[scores[lg] for lg in LANG_ORDER])
    expr = F.lit("und")
    for lg in reversed(LANG_ORDER):
        expr = F.when(scores[lg] == best, F.lit(lg)).otherwise(expr)
    return F.when(best <= 0, F.lit("und")).otherwise(expr)


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punct/stopword features per the usual web-corpus heuristics."""
    n_chars = F.length(text)
    toks = TH.tokens(text)
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    digit_chars = F.length(F.regexp_replace(text, "[^0-9]", ""))
    punct_chars = F.length(F.regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    safe = F.greatest(n_chars, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round(
            alpha_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ),
        "punct_ratio": F.round(punct_chars.cast("double") / safe, 6),
        "digit_ratio": F.round(digit_chars.cast("double") / safe, 6),
        "stopword_hits": n_stop,
    }


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality score: rewards prose-like length and stopword
    presence, penalizes punctuation/digit noise. Deterministic arithmetic."""
    f = quality_features(text)
    length_term = F.least(f["n_tokens"].cast("double") / 64.0, F.lit(1.0))
    stop_term = F.least(f["stopword_hits"].cast("double") / 4.0, F.lit(1.0))
    noise = F.least(
        (f["punct_ratio"] + f["digit_ratio"]) * 2.0, F.lit(1.0)
    )
    return F.round(
        0.5 * length_term + 0.5 * stop_term - 0.3 * noise, 6
    )


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive rolling hash over token hashes:
    fold (acc * 1000003 + h) % (2^31 - 1). Near-identical prefixes share
    fingerprint prefixes; exact duplicates collide exactly."""
    hs = TH.token_hashes(text)
    return F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * TH.FP_FACTOR + F.pmod(h, TH.FP_MOD)) % TH.FP_MOD,
    )


def text_profile(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """One-pass document profile: counts, quality, language, fingerprint."""
    t = F.col(text_col)
    f = quality_features(t)
    docs = ensure_parallelism(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        f["n_chars"].alias("n_chars"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        f["mean_token_len"].alias("mean_token_len"),
        f["punct_ratio"].alias("punct_ratio"),
        f["digit_ratio"].alias("digit_ratio"),
        f["stopword_hits"].alias("stopword_hits"),
        quality_score(t).alias("quality_score"),
        lang_id(t).alias("lang_pred"),
        doc_fingerprint(t).alias("fingerprint"),
    )


# Tiny deterministic sentiment lexicon (lexicon-based scoring per the
# classic unsupervised approach, PAPERS.md EDBT'16). Token-level counts,
# not embeddings: stays a pure map, no shuffle.
POSITIVE_WORDS = (
    "good", "great", "excellent", "happy", "love", "best", "fine",
    "wonderful", "nice", "success",
)
NEGATIVE_WORDS = (
    "bad", "terrible", "awful", "sad", "hate", "worst", "poor",
    "horrible", "failure", "wrong",
)


def sentiment_counts(text: Column) -> tuple[Column, Column]:
    """(positive hits, negative hits) over all tokens (with repeats — a
    document saying 'good good good' is more positive than one 'good')."""
    toks = TH.tokens(text)
    pos = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in POSITIVE_WORDS]))
    )
    neg = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in NEGATIVE_WORDS]))
    )
    return pos, neg


def sentiment_score(text: Column) -> Column:
    """Lexicon polarity in [-1, 1]: (pos - neg) / (pos + neg); 0.0 when no
    lexicon word appears."""
    pos, neg = sentiment_counts(text)
    tot = pos + neg
    return F.when(tot == 0, F.lit(0.0)).otherwise(
        F.round((pos - neg).cast("double") / tot.cast("double"), 6)
    )


def document_sentiment(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos_hits, neg_hits, sentiment) per document."""
    t = F.col(text_col)
    pos, neg = sentiment_counts(t)
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        sentiment_score(t).alias("sentiment"),
    )


# Gopher-style repetition filters (Rae et al. '21 §A1.1): documents dominated
# by repeated lines or one repeated n-gram are boilerplate/spam, not prose.
REP_MIN_TOKENS = 50
REP_MAX_TOKENS = 100_000
REP_MEAN_LEN_LO = 3.0
REP_MEAN_LEN_HI = 10.0
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_TOP_BIGRAM_FRAC = 0.18


def dup_line_fraction(text: Column) -> Column:
    """1 - distinct_lines/lines — pure array expressions, no shuffle.
    Raw IEEE division (bit-exact across engines), deliberately unrounded."""
    lines = F.split(text, "\n")
    return F.lit(1.0) - (
        F.size(F.array_distinct(lines)).cast("double")
        / F.size(lines).cast("double")
    )


def repetition_profile(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-doc repetition features + Gopher-bounds keep flag.

    top_bigram_frac is computed distributively: explode bigrams →
    count per (doc, bigram) → max/sum per doc. Two shuffles, both keyed by
    doc id so partial aggregation combines map-side; never a per-doc O(d²)
    array scan, so a 100k-token document costs O(d) not O(d²).
    Docs with <2 tokens define top_bigram_frac = 0."""
    docs = ensure_parallelism(docs)
    t = F.col(text_col)
    toks = TH.tokens(t)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        quality_features(t)["mean_token_len"].alias("mean_token_len"),
        dup_line_fraction(t).alias("dup_line_frac"),
        toks.alias("_toks"),
    )
    n = F.size("_toks")
    bigrams = F.zip_with(
        F.slice("_toks", 1, n - 1),
        F.slice("_toks", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        base.filter(n >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_bigram_frac"
            )
        )
    )
    out = base.drop("_toks").join(bg, "doc_id", "left").withColumn(
        "top_bigram_frac", F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
    )
    keep = (
        (F.col("n_tokens") >= REP_MIN_TOKENS)
        & (F.col("n_tokens") <= REP_MAX_TOKENS)
        & (F.col("mean_token_len") >= REP_MEAN_LEN_LO)
        & (F.col("mean_token_len") <= REP_MEAN_LEN_HI)
        & (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC)
        & (F.col("top_bigram_frac") <= REP_MAX_TOP_BIGRAM_FRAC)
    )
    return out.withColumn("keep", keep)


# PII detection/redaction. Patterns restricted to constructs with identical
# semantics under Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded quantifiers, ASCII \b. Counting is non-overlapping left-to-right
# in both engines.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}[- ]?\d{6,12}\b"


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4s, then phone numbers with typed placeholders.
    Order matters: emails first so user@host digits never match as phones."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_IPV4_RE, "[IP]")
    return F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")


def pii_scan(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII counts + md5 of the redacted text (compact, verifiable
    without shipping the text). Pure map — regex inside codegen, no shuffle,
    no UDF; the shape every at-scale PII pass wants."""
    docs = ensure_parallelism(docs)
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    n_ipv4 = F.regexp_count(t, F.lit(PII_IPV4_RE))
    n_phones = F.regexp_count(t, F.lit(PII_PHONE_RE))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_emails.alias("n_emails"),
        n_ipv4.alias("n_ipv4"),
        n_phones.alias("n_phones"),
        ((n_emails + n_ipv4 + n_phones) > 0).alias("has_pii"),
        F.md5(redact_pii(t)).alias("redacted_md5"),
    )


# --- TF-IDF keyword extraction ------------------------------------------------

TFIDF_TOP_K = 5


def tfidf_top_terms(
    docs: DataFrame,
    k: int = TFIDF_TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k terms by TF-IDF: (doc_id, term, tf, df, score, rank).

    idf here is the raw inverse document frequency N/df rather than the
    textbook log(N/df): the ranking is the point, and tf·(N/df) is built
    from single exactly-rounded IEEE ops (int→double conversion, one
    division, one multiplication), so scores are bit-identical between
    Spark and the DuckDB oracle — log() carries a last-ulp libm risk.
    Swap in F.log for presentation scores if the absolute value matters.

    Plan shape (holds at 100 TB):
      1. tokenize + explode → groupBy (doc, term): ONE shuffle with map-side
         partial counts (explode output combines before the exchange);
      2. document frequency = groupBy term over the (doc, term) counts —
         second shuffle over the (already term-count-sized) aggregate, not
         the raw token stream;
      3. score join on term — plain shuffle join (the vocabulary of a
         100 TB corpus outgrows a broadcast; AQE downgrades to broadcast
         when it doesn't);
      4. per-doc top-k via ranking window → WindowGroupLimit, so only k
         rows per document survive the final exchange.
    Corpus size N is a scalar aggregate (one number to the driver — same
    role as a broadcast literal, not a data collect).
    """
    n_docs = docs.count()
    # persist: the (doc, term) counts feed BOTH the df aggregate and the
    # score join (exprId re-aliasing defeats ReuseExchange on the repeated
    # subtree) — one tokenize+count pass instead of two; spills past
    # memory at corpus scale, the same materialization either consumer
    # would have paid
    tf = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(TH.tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double")
         * (F.lit(float(n_docs)) / F.col("df").cast("double"))).alias("score"),
    )
    from cdc_stream_processor_spark.operators.relational import top_k_per_group

    out = top_k_per_group(
        scored,
        ["doc_id"],
        [F.col("score").desc(), F.col("term").asc()],
        k,
        rank_col="rank",
    )
    return out.select("doc_id", "term", "tf", "df", "score", "rank")


BIGRAM_MIN_COUNT = 5  # collocation support floor (noise guard)
BIGRAM_TOP_K = 50


def bigram_lift_topk(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = BIGRAM_TOP_K,
    min_count: int = BIGRAM_MIN_COUNT,
) -> DataFrame:
    """Top-k adjacent-token collocations ranked by lift
    p(w1,w2) / (p(w1)·p(w2)) — rank-equivalent to PMI without the log.
    Every factor is cast to double BEFORE multiplying: each cast and each
    product is a single exactly-rounded IEEE op computed in the same
    left-to-right order in both engines, so the score is bit-equal in any
    IEEE engine at ANY corpus size (int64 products would wrap in Spark but
    raise in DuckDB once n_ab·N² exceeds 2⁶³; no transcendental functions
    to disagree on).

    Plan shape: bigrams come from a JVM-side transform over the token
    array (map-only explode — no self-join to form pairs), one groupBy for
    bigram counts, one for unigram counts, both joined back via broadcast
    (vocabulary-sized), TakeOrderedAndProject for the global top-k.
    """
    # persist: token arrays feed the bigram explode AND the unigram counts
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("toks")
    ).persist()
    # size >= 2 guard is load-bearing: sequence(1, size-1) REVERSES into
    # [1, 0(, -1)] for sub-2-token docs (Spark's default step is -1 when
    # stop < start) and toks[i] would index past the array — one short doc
    # crashed the query under ANSI mode (same class as texthash.shingles;
    # the guarded siblings at bigram_lm/ngram sites already filter)
    bigrams = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    # persist: the unigram table feeds the totals scalar and both
    # broadcast join sides
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .persist()
    )
    totals = uni.agg(
        F.sum("n_w").alias("n_tokens"),
    ).crossJoin(bigrams.agg(F.count(F.lit(1)).alias("n_bigrams")))
    scored = (
        bg_counts.filter(F.col("n_ab") >= min_count)
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            # each factor cast to double BEFORE multiplying: int64 products
            # wrap silently in Spark but raise in DuckDB at n_tokens ≳ 3e6,
            # so the engines would diverge; double products are exact-rounded
            # IEEE ops computed identically (left-to-right) in both engines
            # and cannot overflow for any realistic corpus
            (
                F.col("n_ab").cast("double")
                * F.col("n_tokens").cast("double")
                * F.col("n_tokens").cast("double")
                / (
                    F.col("n_bigrams").cast("double")
                    * F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                )
            ).alias("lift"),
        )
    )
    from cdc_stream_processor_spark.operators.relational import global_top_k

    return global_top_k(
        scored,
        [F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc()],
        k,
    )


TYPO_MAX_DIST = 2
# FastSS candidacy cap: the ≤2-deletion neighborhood is O(len²) per
# distinct token, so ONE pathological mega-token (a base64 blob, a URL,
# minified JS — ubiquitous in web corpora) explodes into millions of
# variants and OOMs the build side of the variant join (found live by
# tools/degenerate_stress.py --unicode: a 2000-char blob token ≈ 2M
# variants ≈ 4 GB). Tokens longer than this aren't typo-correction
# candidates anyway (longest common English words are ~20 chars); the
# oracle SQL carries the same WHERE, and every driver-testdata token is
# ≤ 8 chars, so results are byte-identical where the old code survived.
TYPO_MAX_TOKEN_LEN = 24

# single-deletion neighborhood of a string expression (1-based positions)
_DEL1 = (
    "transform(sequence(1, char_length({s})), {i} -> "
    "concat(substring({s}, 1, {i}-1), substring({s}, {i}+1, char_length({s}))))"
)


def typo_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = TYPO_MAX_DIST,
) -> DataFrame:
    """Token pairs within edit distance ≤ 2 — typo/variant normalization
    candidates — via FastSS deletion-neighborhood blocking (Bocek et al.
    '07): tokens sharing any ≤2-deletion variant are the only candidates
    (guaranteed superset for Levenshtein ≤ 2), joined on the variant as a
    hash EQUI-join over the (vocabulary-sized, not corpus-sized) token
    table, then exact-verified with levenshtein(). Never an all-pairs
    product; neighborhood size is O(len²) per distinct token, BOUNDED by
    the TYPO_MAX_TOKEN_LEN candidacy cap (see its comment — one blob
    token otherwise OOMs the variant join at web scale). Returns
    (tok_a, tok_b, dist, n_a, n_b) with corpus frequencies."""
    if max_dist != 2:
        raise ValueError("blocking is built for max_dist=2")
    uni = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") <= TYPO_MAX_TOKEN_LEN)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d1 = _DEL1.format(s="tok", i="i")
    d2 = _DEL1.format(s="s", i="j")
    variants = F.expr(
        f"array_distinct(concat(array(tok), {d1}, "
        f"CASE WHEN char_length(tok) >= 2 "
        f"THEN flatten(transform({d1}, s -> {d2})) "
        f"ELSE CAST(array() AS array<string>) END))"
    )
    vv = uni.select("tok", "n", F.explode(variants).alias("var"))
    a = vv.select(
        F.col("tok").alias("tok_a"), F.col("n").alias("n_a"), "var"
    )
    b = vv.select(
        F.col("tok").alias("tok_b"), F.col("n").alias("n_b"), "var"
    )
    cand = (
        a.join(b, "var")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "n_a", "n_b")
        .dropDuplicates(["tok_a", "tok_b"])
    )
    dist = F.levenshtein("tok_a", "tok_b")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .select("tok_a", "tok_b", "dist", "n_a", "n_b")
    )


BIGRAM_SCALE = 1_000_000_000


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM fluency score from a closed-corpus add-one bigram
    model: per document, the mean smoothed bigram probability
    p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), each probability pre-scaled to
    an integer floor(p·1e9) so the per-doc sum is order-independent.

    Real CCNet scores with perplexity = 2^(-mean log2 p); log() rounding
    differs across libms in the last ulp, so the hashed surface uses the
    scaled-probability mean instead (same fluency signal: documents made
    of common continuations score high, rare/garbled ones score low).
    Exactness chain: (c_ab+1)·1e9 is an exact double (< 2^53), one
    correctly-rounded division, floor — engine-identical by IEEE 754;
    sums and counts are integers.

    Plan shape (holds at 100 TB):
      1. bigram explode → groupBy (w1,w2) and groupBy w1: both counts hang
         off the same exploded relation with map-side partial aggs;
      2. vocabulary size V is a one-row scalar aggregate (broadcast);
      3. score join back on (w1,w2) then w1 — shuffle joins (a 100 TB
         corpus's bigram table outgrows a broadcast; AQE downgrades them
         to broadcast at small SF);
      4. per-doc sum: one final shuffle on doc_id with partial aggs.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 2)
    # persist: the exploded bigram relation feeds THREE consumers (both
    # count aggregates + the final score join) — one tokenize+explode
    # pass instead of three (exprId re-aliasing defeats ReuseExchange)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(2, size(t)),"
                " i -> struct(t[i-2] AS w1, t[i-1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2").persist()
    c_ab = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = docs.select(
        F.explode(TH.tokens(F.col(text_col))).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    scaled_p = F.floor(
        (F.col("c_ab") + 1).cast("double")
        * F.lit(float(BIGRAM_SCALE))
        / (F.col("c_a") + F.col("v")).cast("double")
    )
    return (
        bg.join(c_ab, ["w1", "w2"])
        .join(c_a, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", scaled_p.alias("sp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("sp").alias("sp_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sp_sum").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("mean_scaled_p"),
        )
    )


def doc_rarity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy quality score without a model: mean corpus-frequency
    rank of a document's tokens (dense_rank over document frequency,
    rank 1 = most common). Rare-token-heavy documents score high — the
    cheap first-pass noise filter before any model-based scoring.

    Exactness: ranks and rank-sums are integers; the mean is one
    correctly-rounded double division — engine-equal by construction.
    Plan: token explode → (doc, term) tf groupBy → broadcast join against
    the vocabulary rank table → per-doc partial-agg sum.  The vocabulary
    rank itself is the SAMPLED range-partitioned exact rank
    (`range_rank`), never a partition-less dense_rank window: the rank
    key (df DESC, term ASC) is unique per term, so row rank EQUALS
    dense_rank, and df frequencies are Zipf-skewed — sampled boundaries
    stay balanced where equi-width value buckets would collapse.  The
    broadcast of the rank table holds to ~10M-term vocabularies; past
    that, drop the hint and let AQE pick the join side."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    # persisted: range_rank's boundary-sampling pass and its shuffle pass
    # both read the input, and dfreq is a full distinct+agg over the token
    # explosion — cache the aggregate, not the explosion
    dfreq = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .persist()
    )
    from cdc_stream_processor_spark.operators.relational import range_rank

    ranked = range_rank(
        dfreq, [F.col("df").desc(), F.col("term").asc()]
    ).select("term", F.col("_rank").cast("int").alias("rank"))
    return (
        toks.join(F.broadcast(ranked), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("rank").alias("rank_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("rank_sum").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mean_rarity_rank"),
        )
    )


# --- Gopher-style quality rules ----------------------------------------------

# Rule thresholds follow the public Gopher corpus-filtering heuristics
# (Rae et al. 2021, table A1), with min-words scaled to this synthetic
# corpus (docs run 10-99 words; the canonical 50 would keep only the tail).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rule document quality filter: per-rule booleans + keep flag.

    Pure column expressions, map-only (the 100 TB shape — no shuffle, no
    UDF): word bounds, mean word length, symbol-to-word ratio (#/ellipsis),
    alphabetic-word fraction, and required-stopword hits. All ratios are a
    single int/int division (no accumulation-order hazard), so the DuckDB
    oracle reproduces every value bit-exactly.
    """
    text = F.col(text_col)
    toks = TH.tokens(text)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    # Σ token chars == chars left after stripping ASCII whitespace
    char_sum = F.length(F.regexp_replace(text, "[ \\t\\n\\x0B\\f\\r]", ""))
    mean_word_len = F.round(char_sum.cast("double") / safe_words, 6)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = F.regexp_count(text, F.lit("\\.\\.\\."))
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / safe_words, 6)
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.round(alpha_words.cast("double") / safe_words, 6)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    rules = {
        "ok_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "ok_mean_word_len": (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "ok_symbol_ratio": symbol_ratio < GOPHER_MAX_SYMBOL_RATIO,
        "ok_alpha_words": alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO,
        "ok_stopwords": stop_hits >= GOPHER_MIN_STOP_HITS,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    out = ensure_parallelism(docs).select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )
    return out


# --- exact duplicated-substring detection ------------------------------------

DUP_SPAN_LEN = 8  # window length in tokens


def dup_spans(
    docs: DataFrame,
    span_len: int = DUP_SPAN_LEN,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring signal (the substring-dedup primitive of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for every document, how many of its length-``span_len``
    token windows also occur verbatim in some OTHER document.

    Window hashes are the Horner fold of the per-token polynomial hashes
    ((acc·31 + h) mod P) — the same deterministic arithmetic as the doc
    fingerprint, so the DuckDB oracle reproduces every value. A window is
    "shared" when its hash occurs in ≥ 2 distinct documents; token-level
    hash collisions are ~1e-9·|windows| under P = 1e9+7 and identical in
    both engines, so the comparison stays exact even in the astronomically
    unlikely collision case.

    Shape: map-side window hashing — one Arrow pass per batch running the
    numpy Horner twins (fasthash.polyhash_batch + rolling_horner_batch;
    the interpreted Catalyst nested fold is ~10× slower on this hot
    path) — then explode to (doc, window) rows, ONE groupBy(window_hash)
    partial-agg counting distinct docs (bounded: ≤ 2 matters, via min/max
    doc id — never a collect), and a second agg back to per-doc counts.
    Returns (doc_id, n_windows, n_dup_windows, dup_span_frac).
    """
    from typing import Iterator

    import pandas as pd

    from cdc_stream_processor_spark.functions import fasthash as FH

    def window_hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            ws: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                th = FH.polyhash_batch(FH.tokens_py(text))
                ids.append(doc_id)
                ws.append(FH.rolling_horner_batch(th, span_len))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"), "ws": ws})

    # persisted: feeds the window explode, the shared-hash agg upstream of
    # it, and the per-doc n_windows base — one Arrow hashing pass total
    hashed = (
        ensure_parallelism(docs.select(F.col(id_col).alias(id_col), F.col(text_col)))
        .mapInPandas(window_hashes, schema="doc_id long, ws array<long>")
        .persist()
    )
    wins = hashed.select("doc_id", F.explode("ws").alias("w"))
    # a window hash is shared iff seen in ≥2 distinct docs: min!=max doc id
    # is the bounded-state form of that test (no distinct-count expansion)
    shared = (
        wins.groupBy("w")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("w")
    )
    # no broadcast hint: the shared-hash set scales with the dup rate, so
    # let AQE pick broadcast vs shuffle from its runtime size
    per_doc = (
        wins.join(shared, "w", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    base = hashed.select("doc_id", F.size("ws").alias("n_windows"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.round(
                F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_windows"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_span_frac"),
        )
    )


# --- chi-squared discriminative terms ----------------------------------------

CHI2_TOP_K = 5


def chi2_terms_per_lang(
    docs: DataFrame,
    k: int = CHI2_TOP_K,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k chi-squared discriminative terms per language — the classic
    feature-selection statistic: for each (term, lang), the 2x2 presence
    contingency (a = lang docs containing term, b = lang docs without,
    c = other-lang docs containing, d = rest) scored as
    N*(ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)).

    All four cells derive from three integer aggregations (term-lang
    counts, per-lang totals, per-term totals) joined at vocabulary scale;
    the statistic itself is per-row double arithmetic (products of casts,
    one division) — no accumulation-order hazard, so the oracle matches
    bit-for-bit. Terms present in every document (zero absent-cell margin)
    are excluded — their chi2 is undefined. Top-k per language via the
    rank-pushdown window.
    """
    from cdc_stream_processor_spark.operators.relational import top_k_per_group

    # persist: the tokenized presence pairs feed two of the three count
    # aggregations — one tokenize+explode pass instead of two
    terms = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(F.array_distinct(TH.tokens(F.col(text_col)))).alias("term"),
    ).persist()
    tl = terms.groupBy("term", "lang").agg(F.count(F.lit(1)).alias("a"))
    lang_tot = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    term_tot = terms.groupBy("term").agg(F.count(F.lit(1)).alias("nt"))
    n_docs = docs.count()
    cells = (
        tl.join(F.broadcast(lang_tot), "lang")
        .join(term_tot, "term")
        .select(
            "lang",
            "term",
            F.col("a").cast("double").alias("da"),
            (F.col("nl") - F.col("a")).cast("double").alias("db"),
            (F.col("nt") - F.col("a")).cast("double").alias("dc"),
            (F.lit(n_docs) - F.col("nl") - (F.col("nt") - F.col("a")))
            .cast("double")
            .alias("dd"),
        )
    )
    num = (
        F.lit(float(n_docs))
        * (F.col("da") * F.col("dd") - F.col("db") * F.col("dc"))
        * (F.col("da") * F.col("dd") - F.col("db") * F.col("dc"))
    )
    den = (
        (F.col("da") + F.col("db"))
        * (F.col("dc") + F.col("dd"))
        * (F.col("da") + F.col("dc"))
        * (F.col("db") + F.col("dd"))
    )
    scored = cells.filter(den > 0).select(
        "lang", "term", F.round(num / den, 6).alias("chi2")
    )
    out = top_k_per_group(
        scored,
        ["lang"],
        [F.col("chi2").desc(), F.col("term").asc()],
        k,
        rank_col="term_rank",
    )
    return out.select("lang", "term", "chi2", "term_rank")


def lang_id_confusion(
    docs: DataFrame, text_col: str = "text", label_col: str = "lang"
) -> DataFrame:
    """Confusion matrix of the n-gram/stopword language heuristic against
    the labeled `lang` column — the evaluation query for the lang-ID
    stage (per true language: predicted-language counts and shares).

    share = n / per-language total: integer counts, one correctly-
    rounded division.  One (label, pred) groupBy — the matrix is
    |langs|² rows; the per-language totals broadcast back onto it.
    """
    pairs = docs.select(
        F.col(label_col).alias("lang_true"),
        lang_id(F.col(text_col)).alias("lang_pred"),
    )
    counts = pairs.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.groupBy("lang_true").agg(
        F.sum("n_docs").alias("n_total")
    )
    return (
        counts.join(F.broadcast(totals), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
            .alias("share"),
        )
        .orderBy("lang_true", "lang_pred")
    )


def readability_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document with a regex syllable heuristic
    (vowel groups ≈ syllables — the standard cheap proxy):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    Map-only; every ratio is one correctly-rounded double division over
    integer regex counts, so values are engine-exact.  Sentences floor
    at 1 (fragments still score).
    """
    t = F.col(text_col)
    words = F.greatest(F.lit(1), F.size(TH.tokens(t)))
    sents = F.greatest(F.lit(1), F.regexp_count(t, F.lit("[.!?]+")))
    syll = F.greatest(
        F.lit(1), F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / words.cast("double"))
    )
    docs = ensure_parallelism(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


# --- trigram language models --------------------------------------------------

TRIGRAM_SCALE = 1_000_000_000
BACKOFF_NUM = 4  # stupid backoff alpha = 0.4 as the integer ratio 4/10
BACKOFF_DEN = 10


def _ngram_explode(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, w1..wn) — one row per n-gram occurrence (positional, not
    distinct). Shared explode shape for the LM operators."""
    fields = ", ".join(f"t[i-{n - j}] AS w{j + 1}" for j in range(n))
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= n)
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence({n}, size(t)), i -> struct({fields}))")
        ).alias("g"),
    ).select("doc_id", "g.*")


def trigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Closed-corpus add-one TRIGRAM LM fluency score — the n=3 extension
    of ``bigram_lm_score``'s integer framework: per document, the mean of
    floor(1e9 · (c(w1w2w3)+1) / (ctx(w1w2)+V)), where ctx(w1w2) counts
    (w1,w2) occurrences AS TRIGRAM CONTEXTS (positions with a
    continuation) and V is the unigram vocabulary size.

    Exactness chain identical to the bigram form: (c+1)·1e9 exact below
    2^53, ONE correctly-rounded double division, floor; all sums/counts
    integer.  Plan: trigram explode persisted once feeding three
    consumers (trigram counts, context counts, score join); V is a
    one-row broadcast; final per-doc sum is one partial-agg shuffle."""
    tg = _ngram_explode(docs, text_col, id_col, 3).persist()
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ctx = tg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = docs.select(
        F.explode(TH.tokens(F.col(text_col))).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    scaled_p = F.floor(
        (F.col("c3") + 1).cast("double")
        * F.lit(float(TRIGRAM_SCALE))
        / (F.col("c2") + F.col("v")).cast("double")
    )
    return (
        tg.join(c3, ["w1", "w2", "w3"])
        .join(ctx, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", scaled_p.alias("sp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("sp").alias("sp_sum"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            (
                F.col("sp_sum").cast("double")
                / F.col("n_trigrams").cast("double")
            ).alias("mean_scaled_p"),
        )
    )


def stupid_backoff_score(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al., *Large Language
    Models in Machine Translation*, EMNLP'07) of held-out documents
    against counts from a TRAIN corpus — the cross-corpus form where
    backoff actually fires (scoring a corpus with its own counts never
    backs off: every observed trigram has count >= 1).

    Integer-scaled score per eval trigram (SCALE = 1e9, alpha = 0.4 as
    exact integer ops floor(4·s/10)):

      s3 = floor(c123·SCALE / c12)            if trigram seen in train
      s2 = floor(0.4·floor(c23·SCALE / c2))   elif bigram seen
      s1 = floor(0.4·floor(0.4·floor(c3·SCALE / N)))  elif unigram seen
      0                                       otherwise

    where c12/c2 are train bigram/unigram occurrence counts and N the
    train token total.  Every step is an exact double division below
    2^53 + floor, or pure integer multiply/divide — engine-identical.

    Plan: three left joins of the eval trigram table against train count
    tables (shuffle joins; AQE broadcasts the small sides at small SF), a
    one-row N broadcast, one per-doc agg shuffle.  Returns (doc_id,
    n_trigrams, n_backoff, mean_scaled_s): n_backoff counts trigrams
    that fell below the full-trigram match."""
    tr3 = _ngram_explode(train_docs, text_col, id_col, 3)
    tr2 = _ngram_explode(train_docs, text_col, id_col, 2)
    tr1 = train_docs.select(
        F.explode(TH.tokens(F.col(text_col))).alias("w1")
    )
    c123 = tr3.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c123"))
    c12 = tr2.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = tr1.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    n_tot = tr1.agg(F.count(F.lit(1)).alias("n_tot"))

    ev = _ngram_explode(eval_docs, text_col, id_col, 3)
    scale = F.lit(float(TRIGRAM_SCALE))
    s3 = F.floor(F.col("c123").cast("double") * scale / F.col("c12").cast("double"))
    s2 = F.floor(F.col("c23").cast("double") * scale / F.col("c2").cast("double"))
    s1 = F.floor(F.col("c3").cast("double") * scale / F.col("n_tot").cast("double"))
    back1 = F.floor(F.lit(BACKOFF_NUM) * s2 / F.lit(BACKOFF_DEN))
    back2 = F.floor(
        F.lit(BACKOFF_NUM)
        * F.floor(F.lit(BACKOFF_NUM) * s1 / F.lit(BACKOFF_DEN))
        / F.lit(BACKOFF_DEN)
    )
    score = (
        F.when(F.col("c123").isNotNull(), s3)
        .when(F.col("c23").isNotNull(), back1)
        .when(F.col("c3").isNotNull(), back2)
        .otherwise(F.lit(0))
    )
    return (
        ev.join(c123, ["w1", "w2", "w3"], "left")
        .join(
            c12.select(
                F.col("w1").alias("_j1"), F.col("w2").alias("_j2"), "c12"
            ),
            (F.col("w1") == F.col("_j1")) & (F.col("w2") == F.col("_j2")),
            "left",
        )
        .drop("_j1", "_j2")
        .join(
            c12.select(
                F.col("w1").alias("_k2"),
                F.col("w2").alias("_k3"),
                F.col("c12").alias("c23"),
            ),
            (F.col("w2") == F.col("_k2")) & (F.col("w3") == F.col("_k3")),
            "left",
        )
        .drop("_k2", "_k3")
        .join(
            c1.select(F.col("w1").alias("_m2"), F.col("c1").alias("c2")),
            F.col("w2") == F.col("_m2"),
            "left",
        )
        .drop("_m2")
        .join(
            c1.select(F.col("w1").alias("_m3"), F.col("c1").alias("c3")),
            F.col("w3") == F.col("_m3"),
            "left",
        )
        .drop("_m3")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id",
            score.alias("s"),
            F.col("c123").isNull().cast("long").alias("backed"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("backed").alias("n_backoff"),
            F.sum("s").alias("s_sum"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_backoff",
            (
                F.col("s_sum").cast("double")
                / F.col("n_trigrams").cast("double")
            ).alias("mean_scaled_s"),
        )
    )


def ttr_by_source(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Type-token ratio per source — the corpus-QA vocabulary-diversity
    signal (low TTR → templated/boilerplate-heavy source).  ttr_ppm is
    the exact integer floor(n_types·1e6 / n_tokens); sources with zero
    tokens emit no row (no tokens to measure).

    Plan: token explode → per-(source, term) partial count → exact
    distinct-per-group via two-phase agg — two shuffles, both combinable
    map-side; output is source-cardinality-sized."""
    toks = docs.select(
        "source", F.explode(TH.tokens(F.col(text_col))).alias("term")
    )
    per_term = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_term.groupBy("source")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000L div n_tokens").alias("ttr_ppm"),
        )
    )


CAL_BINS = 10


def lm_quality_calibration(
    docs: DataFrame,
    n_bins: int = CAL_BINS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Calibration table for the LM fluency signal against the Gopher
    rule gate: bin documents into n_bins equal-width buckets of
    bigram-LM mean scaled probability, and report each bin's Gopher
    keep-rate — the "does the cheap statistical score agree with the
    rule-based gate, and where do they disagree" audit run before
    trusting either as a corpus filter.

    Bin assignment is VALUE-based (floor(score / (max+1) · n_bins)), not
    rank-based: map-only after a one-row max broadcast, so no
    corpus-scale rank window (the decile-by-rank formulation would need
    `range_rank` at 100 TB). Per-bin keep_rate is one double division of
    integer counts; score extremes are min/max selections — no double
    accumulation anywhere. Covers scoreable docs (>= 2 tokens, the
    bigram-LM domain).
    """
    lm = bigram_lm_score(docs, text_col, id_col)
    gq = gopher_quality(docs, text_col, id_col).select("doc_id", "keep")
    mx = lm.agg(F.max("mean_scaled_p").alias("mx"))
    binned = (
        lm.join(gq, "doc_id")
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(
                (F.col("mean_scaled_p") / (F.col("mx") + F.lit(1.0)))
                * F.lit(float(n_bins))
            )
            .cast("long")
            .alias("lm_bin"),
            "mean_scaled_p",
            "keep",
        )
    )
    return binned.groupBy("lm_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        (
            F.sum(F.col("keep").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("keep_rate"),
        F.min("mean_scaled_p").alias("score_min"),
        F.max("mean_scaled_p").alias("score_max"),
    )


# --- TextRank keyword extraction ----------------------------------------------

TEXTRANK_MIN_COOC = 3  # drop co-occurrence edges seen fewer times (noise floor)
TEXTRANK_TOP_K = 20
TEXTRANK_ITERS = 3


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = TEXTRANK_TOP_K,
    min_cooc: int = TEXTRANK_MIN_COOC,
    n_iter: int = TEXTRANK_ITERS,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): PageRank
    over the word co-occurrence graph — an edge links ADJACENT tokens
    (window 2), both directions, pruned below `min_cooc` corpus-wide
    occurrences — then the global top-k tokens by rank. Corpus-level
    keyword extraction is the unsupervised summarization/tagging stage of
    a curation pipeline (what is this source ABOUT, before any model).

    Scale shape: adjacent-pair counting is one vocabulary²-bounded
    partial-agg shuffle (bigram table, same shape as bigram_lift_topk);
    the pruned graph is vocabulary-scale; the rank loop is
    operators.graph.pagerank — fixed-iteration int64 fixed-point power
    iteration, so the DuckDB oracle replays every round bit-for-bit. The
    final top-k is a TakeOrderedAndProject, never a global sort.

    Output: (token, pr_q, pagerank, rank), `top_k` rows.
    """
    from cdc_stream_processor_spark.operators.graph import pagerank

    toks = docs.select(TH.tokens(F.col(text_col)).alias("toks"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    cooc = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_cooc)
    )
    edges = (
        cooc.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(cooc.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        # truncate lineage: the rank loop references the edge list twice
        # per iteration, so without a checkpoint the bigram-count subtree
        # is re-inlined ~2·n_iter times into the final plan (audited at
        # 102 exchanges); as a vocabulary-scale table it checkpoints
        # cheaply and the loop plans over a leaf
        .localCheckpoint()
    )
    pr = pagerank(edges, n_iter=n_iter)
    from pyspark.sql.window import Window

    topped = pr.orderBy(F.col("pr_q").desc(), F.col("node").asc()).limit(top_k)
    # rank window runs over the already-cut top_k rows (aggregate scale)
    w = Window.orderBy(F.col("pr_q").desc(), F.col("node").asc())
    return topped.select(
        F.col("node").alias("token"),
        "pr_q",
        "pagerank",
        F.row_number().over(w).alias("rank"),
    )
