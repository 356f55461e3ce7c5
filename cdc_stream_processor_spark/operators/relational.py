"""General relational operators (SURVEY.md §2.11).

The reference has no relational surface beyond its fixed DAG; Catalyst gives
us the full family natively. These thin wrappers standardize determinism
(explicit tie-breaks, decimal-exact money sums) so every operator is
DuckDB-oracle checkable, and encode the scale-aware defaults (partial
aggregation, broadcast for dimension joins, single-shuffle top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent (exact) sum for double money columns: aggregate in
    DECIMAL, cast back to double. Catalyst still plans partial+final agg."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Deterministic average: exact decimal sum divided by count, in double.
    (A plain avg() over doubles is accumulation-order dependent.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number(). `order_by` must be a total
    order (include a unique tie-break column) for deterministic output.

    Scale note: one shuffle on the partition keys; Spark plans a
    WindowGroupLimit (rank pushdown) so each partition only keeps k rows
    before the final sort — no global sort of the fact table.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def global_top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k: orderBy + limit. Spark executes TakeOrderedAndProject —
    per-partition heap of k then driver merge, no full sort/shuffle."""
    return df.orderBy(*order_by).limit(k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_seq: str,
    payload: list[str],
) -> DataFrame:
    """As-of (most-recent-at-or-before) left join: for each left row, attach
    the payload of the right row with the greatest ``right_time`` ≤
    ``left_time`` for the same key; ties on right_time broken by the greatest
    ``right_seq``. Left rows with no earlier right row keep null payloads.

    Execution shape — the scale-critical choice: a naive range join explodes
    to O(left × right-per-key) before picking the max. This implementation
    uses the union+window trick instead: tag both sides, union them, and run
    ONE window (partition by key, order by time) carrying the last non-null
    right payload forward with last(ignorenulls). Cost: one shuffle on the
    key + one sort — the same price as a plain equi-join, independent of
    right rows per key. Right rows sort before left rows at equal time, so
    the "at-or-before" bound is inclusive.
    """
    lcols = left.columns
    # SQL as-of semantics for NULLs (r12 --nulls audit): a right row with
    # a NULL key can never equal any left key (NULL != NULL), and a right
    # row with a NULL time can never satisfy t_r <= t_l — but unfiltered,
    # the union+window trick would group NULL keys into one partition and
    # sort NULL times FIRST (carried as a bogus "earliest" match). Left
    # rows need no filter: a NULL left time sorts before every right row
    # (nothing carried) and a NULL left key shares its partition only
    # with other left rows once the right side is clean.
    right = right.filter(
        F.col(right_on).isNotNull() & F.col(right_time).isNotNull()
    )
    tagged_r = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),  # right first at equal time (inclusive bound)
        F.col(right_seq).alias("_seq"),
        F.struct(*[F.col(c) for c in payload]).alias("_payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    tagged_l = left.select(
        F.col(left_on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[right_seq].dataType).alias("_seq"),
        F.lit(None)
        .cast(tagged_r.schema["_payload"].dataType)
        .alias("_payload"),
        *lcols,
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        tagged_r.unionByName(tagged_l)
        .withColumn("_asof", F.last("_payload", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    return carried.select(*lcols, *[F.col(f"_asof.{c}").alias(c) for c in payload])


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_time: str,
    band_seconds: int,
    extra_on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Band (range) join: pair rows where |left_time − right_time| ≤ band.
    Column names must be disjoint apart from ``extra_on`` keys.

    Scale shape — the reason this exists: with no equi key, Catalyst plans a
    pure range predicate as BroadcastNestedLoopJoin, O(|L|·|R|). Bucketing
    both sides into band-width epochs turns it into an EQUI join on the
    bucket id (+ any extra keys): the right side lands in its own bucket,
    the left side explodes into its bucket ±1 (a fixed 3× fan-out, not
    data-dependent), and the exact |Δt| ≤ band residual runs as part of the
    join condition during the hash probe. One shuffle, no cross product —
    the same trick DuckDB's IEJoin and Flink's interval join use under the
    hood.

    Inner joins only: the bucket fan-out triplicates left rows, so outer
    semantics would emit unmatched left rows 3× (and the residual-as-filter
    variant silently degrades left→inner). Callers needing left semantics
    should anti-join the inner result back against ``left``.
    """
    if how != "inner":
        raise ValueError("banded_range_join supports inner joins only")
    on = list(extra_on or [])
    lb = F.floor(F.unix_timestamp(F.col(left_time)) / band_seconds)
    rb = F.floor(F.unix_timestamp(F.col(right_time)) / band_seconds)
    l = left.withColumn(
        "_bucket", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    r = right.withColumn("_bucket", rb)
    close = (
        F.abs(
            F.unix_timestamp(F.col(left_time))
            - F.unix_timestamp(F.col(right_time))
        )
        <= band_seconds
    )
    cond = close
    for k in on + ["_bucket"]:
        cond = (l[k] == r[k]) & cond
    joined = l.join(r, cond, "inner")
    # drop the right-side copies of the equi keys + both bucket columns
    out = joined
    for k in on:
        out = out.drop(r[k])
    return out.drop(l["_bucket"]).drop(r["_bucket"])


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: scatter each (possibly hot) left key's rows
    across n_salts sub-keys and replicate the right side n_salts ways, so
    one hot key's work spreads over n_salts reducers instead of straggling
    on one. Use when the right side is too big to broadcast but small
    enough to replicate n_salts× through the shuffle; AQE's skew-join
    splitting (on by default in session.get_spark) covers the
    both-sides-huge case at runtime. Inner/left joins only — right rows are
    replicated, so right/full-outer semantics would double-count.

    The salt is a deterministic hash of the whole left row (no RNG): rerun
    stability matters more than perfect balance, and identical rows landing
    on the same salt is harmless."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l = left.withColumn("_salt", salt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l.join(r, on + ["_salt"], how).drop("_salt")


SESSION_GAP_MINUTES = 480  # new session when idle > 8h (testdata gap p50 ~7.3h)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> DataFrame:
    """Gap-based batch sessionization: per user, a new session starts at the
    first event and whenever the idle gap exceeds `gap_minutes`; emits one
    summary row per session. The batch twin of the streaming session window
    (operators.pipelines dormancy, A3) — same islands-and-gaps semantics,
    expressed as lag + cumulative flag-sum.

    All time arithmetic is integer microseconds (unix_micros), so an
    independent engine reproduces boundaries exactly — no float epoch or
    interval rounding.

    Scale shape: one shuffle, on the user key, for the lag/cumsum window;
    the session roll-up groups by (user, session_id), a SUPERSET of the
    window's partitioning key, so Catalyst reuses the existing distribution
    and the aggregation adds no second exchange. The value sum runs in
    DECIMAL — exact and fold-order-independent, safe under nondeterministic
    partial-agg order.
    """
    gap_us = gap_minutes * 60_000_000
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
    )
    prev = F.lag("us").over(w)
    # two select steps: a window function may not nest inside another window
    flagged = base.withColumn(
        "is_new",
        (prev.isNull() | ((F.col("us") - prev) > F.lit(gap_us))).cast("long"),
    ).withColumn("session_id", F.sum("is_new").over(run))
    return flagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.sum("v").cast("double").alias("total_value"),
    )


FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: per user, how far through the step sequence
    they progressed, each step strictly after the previous one in event
    time. Emits (user_id, funnel_stage, t1_us..tN_us) where t_k is the
    time of the completing event for step k (integer µs; null past stage).

    Semantics = the greedy earliest chain: t1 = first step-1 event,
    t_k = first step-k event strictly after t_{k-1}. Greedy-earliest is
    optimal (taking an earlier completion never blocks a later step), so
    the one-pass fold equals the sequential min-after definition the
    oracle states.

    Scale shape: ONE shuffle on the user key; the per-user event list is
    sorted and folded entirely JVM-side (array_sort + aggregate — no
    Python workers, no window cascade, no per-step self-join; a 4-step
    funnel as repeated joins would be 4 shuffles and 4 scans). Per-user
    event counts bound partition memory — the same invariant any per-user
    analytic already needs.
    """
    n = len(steps)
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
    )
    per_user = base.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("us", "event_id", "event_type"))
        ).alias("evts")
    )
    t_fields = [f"t{i + 1}" for i in range(n)]
    init = F.struct(
        F.lit(0).cast("long").alias("stage"),
        *[F.lit(None).cast("long").alias(t) for t in t_fields],
    )

    def advance(acc: Column, e: Column) -> Column:
        out = acc
        for i, step_name in enumerate(steps):
            cond = (acc["stage"] == i) & (e["event_type"] == F.lit(step_name))
            if i > 0:
                cond = cond & (e["us"] > acc[t_fields[i - 1]])
            matched = F.struct(
                (acc["stage"] + 1).alias("stage"),
                *[
                    (e["us"] if j == i else acc[t_fields[j]]).alias(t_fields[j])
                    for j in range(n)
                ],
            )
            out = F.when(cond, matched).otherwise(out)
        return out

    folded = per_user.select(
        "user_id", F.aggregate(F.col("evts"), init, advance).alias("f")
    )
    return folded.select(
        "user_id",
        F.col("f.stage").alias("funnel_stage"),
        *[F.col(f"f.{t}").alias(f"{t}_us") for t in t_fields],
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first active day;
    each (cohort_day, day_offset) cell counts the cohort's users active
    offset days later. Returns (cohort_day, day_offset, n_users) with
    offset 0 = cohort size.

    Scale shape: ONE corpus-scale shuffle — per-user day sets aggregate with
    map-side partial collect_set (ObjectHashAggregate), the cohort day is
    array_min of the set (no second shuffle, no window, no self-join), and
    the final rollup groups the exploded (cohort, offset) rows — a
    cohorts × horizon-sized aggregate, map-side combinable.
    """
    per_user = (
        events.select(
            F.col(user_col).alias("user_id"), F.to_date(ts_col).alias("day")
        )
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    return (
        per_user.select(
            F.array_min("days").alias("cohort_day"),
            F.explode("days").alias("day"),
        )
        .groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("day_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


DAY_US = 86_400_000_000


def resample_timeseries(
    events: DataFrame,
    bucket_us: int = DAY_US,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Fixed-interval time-series resample with gap fill (the hypertable
    rollup): per key, events aggregate into `bucket_us`-wide buckets, and
    every empty bucket between the key's first and last active bucket is
    materialized with zero counts — the dense timeline a downstream
    charting/forecasting consumer expects.

    Bucket index is integer µs division (positive epochs: trunc == floor in
    both engines). The dense spine comes from sequence()+explode over each
    key's [first, last] bucket span — generated at AGGREGATE scale (keys ×
    buckets), never by re-scanning the corpus.

    Scale shape: one corpus-scale shuffle into the (key, bucket) partial
    aggregation; the span roll-up, spine explode, and gap-fill left join
    all run on aggregate-sized data. The value sum is DECIMAL — exact under
    any partial-agg fold order. Returns (user_id, bucket_idx, n_events,
    total_value).
    """
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.expr(f"unix_micros({ts_col}) div {bucket_us}").alias("bucket_idx"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
    )
    agg = base.groupBy("user_id", "bucket_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
    )
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("bucket_idx").alias("lo"), F.max("bucket_idx").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket_idx"),
        )
    )
    return spine.join(agg, ["user_id", "bucket_idx"], "left").select(
        "user_id",
        "bucket_idx",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


ZSCORE_FRAME = 6  # rolling frame: current row + 6 preceding = 7 rows
ZSCORE_THRESHOLD = 2.0


def rolling_zscore(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    frame_rows: int = ZSCORE_FRAME,
    threshold: float = ZSCORE_THRESHOLD,
) -> DataFrame:
    """Rolling z-score anomaly detection: per key, each value is scored
    against the mean/stddev of its trailing `frame_rows`+1-row window and
    flagged when |z| exceeds the threshold — the streaming-style outlier
    monitor, in batch form.

    Bit-exact across engines by construction: the frame sums run in DECIMAL
    (order-independent), every double step (mean, E[x²]−mean², sqrt, the
    quotient) is a single correctly-rounded IEEE operation stated in the
    same association order in the SQL oracle, and variance is clamped at
    zero (representation error can drive it ~−1e-16, which Spark's sqrt
    maps to NaN but DuckDB rejects outright).

    Scale shape: one shuffle on the key; both rolling sums share one Window
    operator over the same (key, time) sort. Returns (event_id, user_id,
    value, rolling_mean, zscore, is_anomaly).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-frame_rows, Window.currentRow)
    )
    base = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(value_col).alias("value"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
    )
    n = F.count(F.lit(1)).over(w)
    mean = F.sum("v").over(w).cast("double") / n
    meansq = F.sum(F.col("v") * F.col("v")).over(w).cast("double") / n
    var = F.greatest(meansq - mean * mean, F.lit(0.0))
    z = (F.col("value") - mean) / (F.sqrt(var) + F.lit(1e-9))
    return base.select(
        "event_id",
        "user_id",
        "value",
        mean.alias("rolling_mean"),
        z.alias("zscore"),
        (F.abs(z) > F.lit(threshold)).alias("is_anomaly"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order transition matrix over per-user event sequences: counts
    of consecutive (prev_type → type) steps, plus each row's share of its
    source state's outgoing edges — the empirical Markov transition
    estimate behind next-action prediction and funnel-drop diagnosis.

    Scale shape: one corpus shuffle for the per-user lag window; the count
    roll-up is states² rows, map-side combinable; the probability join is a
    states-sized broadcast. The probability is one IEEE double division of
    two exact integer counts — bit-exact in any engine.
    """
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
    )
    steps = (
        base.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_steps"))
    )
    outgoing = steps.groupBy("prev_type").agg(
        F.sum("n_steps").alias("n_out")
    )
    return steps.join(F.broadcast(outgoing), "prev_type").select(
        "prev_type",
        "next_type",
        "n_steps",
        (F.col("n_steps").cast("double") / F.col("n_out")).alias("p_transition"),
    )


INTERVAL_BUCKET_US = 6 * 3600 * 1_000_000  # 6h epochs for interval binning


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_us: int = INTERVAL_BUCKET_US,
    extra_cond: Column | None = None,
) -> DataFrame:
    """Interval-overlap join ([s,e] closed intervals) as a hash EQUI-join:
    explode each interval onto the bucket_us epochs it covers, join on the
    epoch, keep true overlaps, then dedup (a pair sharing k epochs arrives
    k times). Same binning trick as the banded range join — the shuffle
    key is the epoch, so there is never a nested-loop range scan; pick
    bucket_us ≈ typical interval length so the explode factor stays ~2.
    Column names of the two inputs must be disjoint."""
    lb = left.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"{l_start} div {bucket_us}"),
                F.expr(f"{l_end} div {bucket_us}"),
            )
        ),
    )
    rb = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"{r_start} div {bucket_us}"),
                F.expr(f"{r_end} div {bucket_us}"),
            )
        ),
    )
    cond = (F.col(l_start) <= F.col(r_end)) & (F.col(r_start) <= F.col(l_end))
    if extra_cond is not None:
        cond = cond & extra_cond
    return (
        lb.join(rb, "_bkt")
        .filter(cond)
        .drop("_bkt")
        .dropDuplicates(left.columns + right.columns)
    )


MAD_K = 3.0  # outlier fence: |v - median| > 3 * MAD

# Grouped-map kernels are invoked ONCE PER GROUP, each with its own Arrow
# round-trip — at millions of small key groups that per-group overhead (a
# few ms of batch framing + pandas construction) dominates the actual math.
# Bucketing the keys first bounds kernel invocations at MAD_BUCKETS while
# keeping the required invariant (all of a user's rows in one task), and
# doubles as the skew guard: a task holds ~|keys|/buckets groups, not one
# giant hot key's worth of framing overhead. Measured 4.6 s → ~1 s on 1.5 K
# groups / 100 K rows (local[32], sf0.1).
MAD_BUCKETS = 256


def user_value_mad(events: DataFrame) -> DataFrame:
    """Per-user robust outlier statistics (median / MAD / fence count) via
    grouped-map applyInPandas — the batch 'custom per-group Python' slot
    (SURVEY §7.2(b)): semantics a single SQL window can't express cleanly
    run as one Arrow-batched kernel per key group, one shuffle total.

    The grouping key is a hash BUCKET of user_id (not user_id itself): the
    kernel loops over the users inside its bucket, so the per-kernel Arrow
    overhead amortizes over ~|users|/MAD_BUCKETS groups instead of being
    paid once per user. Per-user numerics are unchanged.

    Medians interpolate as lo + (hi - lo) * 0.5 — the same expression tree
    as Spark's percentile() and DuckDB's quantile_cont — NOT numpy's
    (lo + hi) / 2, which can differ in the last ulp and break the oracle.
    """
    import numpy as np
    import pandas as pd

    def _median(v: "np.ndarray") -> float:
        s = np.sort(v)
        n = len(s)
        if n % 2 == 1:
            return float(s[n // 2])
        lo, hi = float(s[n // 2 - 1]), float(s[n // 2])
        return lo + (hi - lo) * 0.5

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        uids, ns, meds, mads, outs = [], [], [], [], []
        for uid, g in pdf.groupby("user_id", sort=False):
            v = g["value"].to_numpy(dtype=np.float64)
            med = _median(v)
            dev = np.abs(v - med)
            mad = _median(dev)
            uids.append(int(uid))
            ns.append(len(v))
            meds.append(med)
            mads.append(mad)
            outs.append(int((dev > MAD_K * mad).sum()))
        return pd.DataFrame(
            {
                "user_id": pd.Series(uids, dtype="int64"),
                "n": pd.Series(ns, dtype="int64"),
                "median": pd.Series(meds, dtype="float64"),
                "mad": pd.Series(mads, dtype="float64"),
                "n_outliers": pd.Series(outs, dtype="int64"),
            }
        )

    bucketed = events.select(
        "user_id",
        "value",
        F.pmod(F.xxhash64("user_id"), F.lit(MAD_BUCKETS)).alias("_bkt"),
    )
    return bucketed.groupBy("_bkt").applyInPandas(
        kernel, schema="user_id long, n long, median double, mad double, n_outliers long"
    )


def ewma_smooth(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    span: int = 8,
) -> DataFrame:
    """Truncated exponentially-weighted moving average per series — the
    smoothing primitive behind drift monitors and rate baselines.

    ewma_t = Σ_{j<span} wⱼ·x_{t-j} / Σ_{j<span, j≤t} wⱼ with wⱼ =
    α(1−α)ʲ. The span-truncated form replaces the unbounded recursion
    (which no engine can shuffle-parallelize and no non-recursive SQL can
    state) with a fixed lag chain: one window shuffle on the series key,
    O(span) lag frames, and an EXACT left-to-right double summation that
    both Spark and the DuckDB oracle evaluate in the same literal order —
    term weights are emitted as repr'd double literals, so the arithmetic
    is reproducible bit-for-bit.

    Missing leading lags (series head) drop out of both numerator and
    denominator via a presence indicator, so early rows average over the
    terms that exist rather than decaying toward zero.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
    num: Column | None = None
    den: Column | None = None
    for j in range(span):
        wj = alpha * (1.0 - alpha) ** j
        lagged = F.lag(F.col(value_col).cast("double"), j).over(w)
        term = F.coalesce(lagged, F.lit(0.0)) * F.lit(wj)
        present = F.when(lagged.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    # try_divide: a row whose ENTIRE lag frame is NULL (a NULL value in
    # the current row makes even the j=0 lag NULL) has den = 0.0 with
    # num = 0.0 — the average over zero present terms is undefined, so
    # ship NULL instead of dying under ANSI (r12 unguarded-denominator
    # sweep; unreachable from ewma_event_rate's count inputs, but the
    # operator is public API over any value column)
    return df.withColumn("ewma", F.round(F.try_divide(num, den), 6))


HIST_BINS = 20


def value_histogram(
    events: DataFrame,
    n_bins: int = HIST_BINS,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width per-group histogram — the chart/monitoring primitive.

    Bin edges come from each group's [min, max] (one partial-agg pass);
    bin index is trunc((x - lo) / width) clamped to n_bins - 1 so the max
    lands in the last bin. Integer trunc-toward-zero matches DuckDB's
    explicit trunc() (x ≥ lo, so trunc == floor); the width division is
    one IEEE double op. Empty bins are materialized via a sequence spine
    at GROUP scale (n_groups · n_bins rows) so consumers see dense
    histograms.

    Scale: two shuffles on the group key (extent agg, bin counts), both
    partial-aggregated map-side; the spine join runs at aggregate scale.
    """
    # persist: the group-scale extent table feeds the bin join AND the
    # dense spine — cached, the corpus is scanned once for extents
    ext = events.groupBy(group_col).agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    ).persist()
    binned = (
        events.join(F.broadcast(ext), group_col)
        .select(
            group_col,
            F.least(
                F.when(
                    F.col("hi") == F.col("lo"), F.lit(0)
                ).otherwise(
                    (
                        (F.col(value_col).cast("double") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / F.lit(float(n_bins)))
                    ).cast("long")
                ),
                F.lit(n_bins - 1).cast("long"),
            ).alias("bin"),
        )
        .groupBy(group_col, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = ext.select(
        group_col,
        "lo",
        "hi",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    ).select(group_col, F.col("bin").cast("long").alias("bin"), "lo", "hi")
    return (
        spine.join(binned, [group_col, "bin"], "left")
        .select(
            group_col,
            "bin",
            F.round(
                F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / n_bins),
                6,
            ).alias("bin_lo"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


ATTR_WINDOW_DAYS = 7


def first_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    window_days: int = ATTR_WINDOW_DAYS,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Marketing-style first-touch attribution: each conversion event is
    credited to the FIRST event (any type) in the user's preceding
    ``window_days`` — ties on timestamp break by event_id.

    One window shuffle on the user key: events sort once per user; for
    each conversion, min_by over the look-back frame picks the earliest
    qualifying touch. The frame is a range frame on epoch-µs (long), so
    Spark plans a single running-window pass — no self-join, no per-
    conversion scan. Emits (conversion event, touch event_type, touch ts,
    seconds between).
    """
    us = F.unix_micros(F.col(ts_col))
    win_us = window_days * 86_400_000_000
    w = (
        Window.partitionBy(user_col)
        .orderBy(us.asc())
        .rangeBetween(-win_us, 0)
    )
    touch = F.min_by(
        F.struct(
            us.alias("t_us"),
            F.col("event_id").alias("t_id"),
            F.col(type_col).alias("t_type"),
        ),
        F.struct(us.alias("t_us"), F.col("event_id").alias("t_id")),
    ).over(w)
    return (
        events.withColumn("_touch", touch)
        .filter(F.col(type_col) == conversion_type)
        .select(
            "event_id",
            user_col,
            F.col(ts_col).alias("conversion_ts"),
            F.col("_touch.t_type").alias("touch_type"),
            F.col("_touch.t_id").alias("touch_event_id"),
            (
                (F.unix_micros(F.col(ts_col)) - F.col("_touch.t_us"))
                / F.lit(1_000_000.0)
            ).alias("seconds_since_touch"),
        )
    )


SEASON_PERIOD = 7  # weekly seasonality on the daily series
TREND_HALF = 3  # centered 7-day moving-average trend


def _daily_counts(events: DataFrame, ts_col: str) -> DataFrame:
    """(day, cnt) daily event counts, day = exact int64 epoch-day of
    ``ts_col`` (truncating ``div``, as every day-bucket operator uses)."""
    return (
        events.select(
            F.expr(f"unix_micros({ts_col}) div {DAY_US}").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _calendar_spine(events: DataFrame, ts_col: str) -> DataFrame:
    """Gap-free calendar spine of the daily event counts: explode the
    [min, max] day range, left-join the observed counts, zero-fill.
    PERSISTED — every series operator that builds a spine consumes it from
    several branches (windows, medians, bounds), and uncached each branch
    re-runs the events scan + daily aggregate; the cached relation is
    calendar-scale (one skinny row per day)."""
    daily = _daily_counts(events, ts_col)
    return (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
        .join(daily, "day", "left")
        .select("day", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
        .persist()
    )



def seasonal_decompose(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Classical additive decomposition of the daily event-count series:
    cnt = trend + seasonal + residual, with a centered 7-day moving-average
    trend and day-of-week seasonal means (the moving-average step of
    STL-style decomposition, kept exactly engine-reproducible).

    Exactness: counts are integers, so the detrended series is carried as
    the INTEGER numerator 7·cnt − Σ₇cnt (order-free partial sums); trend
    and seasonal each become ONE double division of exact integers, and
    the residual is the same left-associated double expression in both
    engines — no accumulation-order hazard anywhere.  Days with a partial
    trend window (the first/last 3) are excluded, which is what makes the
    numerators exact.

    Scale shape: one corpus-scale shuffle into the daily count; the spine
    fill, trend window, and seasonal means all run on the AGGREGATE-scale
    daily table (bounded by the calendar — a decade is ~3.7k rows), so the
    unpartitioned window is a non-issue by construction.  Returns
    (day, cnt, trend, seasonal, residual).
    """
    period, half = SEASON_PERIOD, TREND_HALF
    spine = _calendar_spine(events, ts_col)
    w = Window.orderBy("day").rowsBetween(-half, half)
    full = (
        spine.withColumn("sum_w", F.sum("cnt").over(w))
        .withColumn("cw", F.count(F.lit(1)).over(w))
        .filter(F.col("cw") == period)
    )
    detr = full.withColumn(
        "detr_num", F.lit(period) * F.col("cnt") - F.col("sum_w")
    ).withColumn("dow", F.pmod(F.col("day"), F.lit(period)))
    per_dow = detr.groupBy("dow").agg(
        F.sum("detr_num").alias("s_num"), F.count(F.lit(1)).alias("n_dow")
    )
    out = detr.join(F.broadcast(per_dow), "dow")
    trend = F.col("sum_w").cast("double") / F.lit(float(period))
    seasonal = F.col("s_num").cast("double") / (
        F.lit(period) * F.col("n_dow")
    ).cast("double")
    return out.select(
        "day",
        "cnt",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (F.col("cnt") - trend - seasonal).alias("residual"),
    )


ACF_MAX_LAG = 14


def acf_daily(
    events: DataFrame, ts_col: str = "ts", max_lag: int = ACF_MAX_LAG
) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..max_lag
    (the seasonality probe behind picking SEASON_PERIOD).

    Exactness: with a_t = n·x_t − S (integers; the mean-centered series
    scaled by n), the standard ACF estimator collapses to
    r_k = Σ_{t≤n−k} a_t·a_{t+k} / Σ_t a_t² — the n² scale cancels, so
    both sums accumulate in DECIMAL(38,0) (order-free) and r_k is ONE
    correctly-rounded double division. No libm, no double accumulation.

    Scale shape: one corpus-scale shuffle into the daily count; everything
    after runs on the calendar-bounded daily table (~3.7k rows/decade).
    All max_lag+1 sums (the lag-0 sum IS the denominator) come from ONE
    pass — a single-partition `lead()` window over the persisted spine
    feeding one global aggregate — instead of a per-lag self-join (the
    former shape planned 18 exchanges / 12 broadcast builds of fixed
    latency; this one plans 4).  The partition-less window is calendar-
    scale by construction, never corpus-scale.

    Edge guards: ``max_lag`` must be >= 1 (``stack(0, ...)`` is a SQL
    syntax error), and empty input returns ZERO rows (the global agg's
    all-null row is filtered on the null denominator) — matching the
    pre-r6 per-lag-join formulation.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    spine = _calendar_spine(events, ts_col)
    # (n, S) as unbounded-window aggregates over the SAME single-partition
    # pass the lead() columns need — no separate scalar agg, no second
    # spine reference, one Exchange SinglePartition for everything
    w_all = Window.partitionBy()
    w = Window.orderBy("day")
    a = spine.select(
        "day",
        (
            F.count(F.lit(1)).over(w_all) * F.col("cnt")
            - F.sum("cnt").over(w_all)
        )
        .cast("decimal(38,0)")
        .alias("a"),
    )
    lagged = a.select(
        "a",
        *[
            F.lead("a", k).over(w).alias(f"_l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    # one row: den = Σa² plus (num_k, pairs_k) per lag — DECIMAL(38,0)
    # products summed order-free, exactly as the former join formulation
    sums = lagged.agg(
        F.sum(F.col("a") * F.col("a")).alias("_den"),
        *[
            agg
            for k in range(1, max_lag + 1)
            for agg in (
                F.sum(F.col("a") * F.col(f"_l{k}")).alias(f"_num{k}"),
                F.count(F.col(f"_l{k}")).alias(f"_np{k}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"{k}L, _np{k}, _num{k}" for k in range(1, max_lag + 1)
    )
    return (
        sums.select(
            F.expr(
                f"stack({max_lag}, {stack_args}) AS (lag, n_pairs, num)"
            ),
            "_den",
        )
        .where(F.col("_den").isNotNull())
        .select(
            "lag",
            "n_pairs",
            # try_divide: a zero-variance series (every day the same
            # count, e.g. exactly one event per day) has den = Σa² = 0
            # with non-NULL num = 0 — DuckDB ships NULL for 0/0 where
            # ANSI `/` kills the job (r12 unguarded-denominator sweep)
            F.try_divide(
                F.col("num").cast("double"), F.col("_den").cast("double")
            ).alias("acf"),
        )
        .orderBy("lag")
    )


CUSUM_TOP_K = 5


def cusum_changepoint(
    events: DataFrame, ts_col: str = "ts", k: int = CUSUM_TOP_K
) -> DataFrame:
    """CUSUM mean-shift scan over the daily event-count series: the top-k
    candidate changepoint days by |n·P_t − t·S| (P_t = prefix sum through
    day t, t = 1-based day index, S = series total) — the integer-scaled
    form of the classic max-|CUSUM| statistic |P_t − (t/n)·S|.

    Exactness: the statistic stays in DECIMAL(38,0) end to end (counts,
    prefix sums, and two integer products); ties break on earliest day.
    Scale shape: the only corpus-scale work is the daily groupBy; the
    prefix-sum window runs unpartitioned but on the calendar-bounded
    aggregate, and the top-k is a TakeOrderedAndProject.
    """
    spine = _calendar_spine(events, ts_col)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pref = spine.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("decimal(38,0)").alias("p"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    tot = spine.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("decimal(38,0)").alias("s"),
    )
    d = pref.crossJoin(F.broadcast(tot)).select(
        "day",
        "cnt",
        F.abs(
            F.col("n") * F.col("p") - F.col("t") * F.col("s")
        ).alias("cusum_abs"),
    )
    return global_top_k(
        d, [F.col("cusum_abs").desc(), F.col("day").asc()], k
    ).select("day", "cnt", F.col("cusum_abs").cast("double").alias("cusum_abs"))


SKYLINE_BUCKETS = 1024


def skyline_orders(
    orders: DataFrame,
    price_col: str = "o_totalprice",
    date_col: str = "o_orderdate",
    id_col: str = "o_orderkey",
    n_buckets: int = SKYLINE_BUCKETS,
) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders maximizing (price, recency):
    rows with NO other row strictly greater in BOTH columns.

    Distributed shape: a naive skyline is an O(n²) self-join or an
    unpartitioned window over a global sort — both scale-killers.  This
    runs the standard bucket-prune: equi-width price buckets (bounds from
    one scalar agg), per-bucket max date (tiny), a running max over the
    ≤ n_buckets bucket rows, then the exact strict-dominance test ON THE
    SURVIVORS ONLY (a point dominated by an eliminated point is always
    dominated by some survivor — elimination implies a strictly-greater
    witness, so the dominance chain terminates at a survivor).  The only
    corpus-scale ops are one scalar agg, one groupBy(bucket), and one
    broadcast-join filter; the windows run on bucket/candidate-scale rows.
    Pruning choices (bucket width) affect only intermediate sets, never
    the result, so they need no cross-engine determinism.
    """
    p, d = F.col(price_col), F.col(date_col)
    bounds = orders.agg(
        F.min(p).alias("lo"), F.max(p).alias("hi")
    )
    b = F.least(
        F.lit(n_buckets - 1),
        F.floor(
            (p - F.col("lo"))
            * F.lit(float(n_buckets))
            / (F.col("hi") - F.col("lo") + F.lit(1e-9))
        ),
    ).alias("bkt")
    bucketed = orders.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col), p.alias("price"), d.alias("dt"), b
    )
    bmax = bucketed.groupBy("bkt").agg(F.max("dt").alias("bd"))
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    mhigh = bmax.select("bkt", F.max("bd").over(wb).alias("md_bkt"))
    cand = bucketed.join(F.broadcast(mhigh), "bkt").filter(
        F.col("md_bkt").isNull() | (F.col("dt") >= F.col("md_bkt"))
    )
    lv = cand.groupBy("price").agg(F.max("dt").alias("maxd"))
    wl = Window.orderBy(F.col("price").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    mdl = lv.select("price", F.max("maxd").over(wl).alias("md"))
    return (
        cand.join(F.broadcast(mdl), "price")
        .filter(F.col("md").isNull() | (F.col("dt") >= F.col("md")))
        .select(
            F.col(id_col),
            F.col("price").alias(price_col),
            F.col("dt").alias(date_col),
        )
        .orderBy(F.col(price_col).desc(), F.col(id_col).asc())
    )


def event_type_correlation(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Pairwise Pearson correlation between the daily count series of every
    event-type pair (the co-movement matrix behind anomaly triage).

    Exactness: every sum (Σx, Σy, Σxy, Σx², Σy², n) is an integer in
    DECIMAL(38,0); the estimator is then numerator/denominator where each
    factor is a single correctly-rounded double op (casts, sqrt — IEEE
    sqrt IS exactly rounded, unlike log/exp — one multiply, one divide).
    Missing (day, type) cells count as 0 via the dense spine cross join.

    Scale: one corpus shuffle into (day, type) counts; everything after
    runs on calendar×|types| rows.  |types| is small by assumption (it's
    an enum column); the pair join is over that tiny relation.
    """
    daily = (
        events.select(
            F.expr(f"unix_micros({ts_col}) div {DAY_US}").alias("day"),
            F.col("event_type").alias("et"),
        )
        .groupBy("day", "et")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
        .crossJoin(daily.select("et").distinct())
        .join(daily, ["day", "et"], "left")
        .select(
            "day", "et", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
        )
    
        # persisted: the typed spine references `daily` three times and
        # feeds multiple downstream branches; calendar×type scale
    ).persist()
    x = spine.select(
        "day",
        F.col("et").alias("type_a"),
        F.col("cnt").cast("decimal(38,0)").alias("xa"),
    )
    y = spine.select(
        "day",
        F.col("et").alias("type_b"),
        F.col("cnt").cast("decimal(38,0)").alias("xb"),
    )
    pairs = x.join(y, "day").filter(F.col("type_a") < F.col("type_b"))
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # zero-variance guard (r11 numeric-divergence audit): a constant
    # series (e.g. a single-day calendar) makes a sqrt factor 0, which is
    # an ANSI DIVIDE_BY_ZERO crash on Spark but NULL on the DuckDB twin
    # (float x/0 is NULL there) — corr is undefined, emit NULL on both
    denom = F.sqrt(vx) * F.sqrt(vy)
    return agg.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_days"),
        F.when(denom != 0.0, num / denom).alias("corr"),
    ).orderBy("type_a", "type_b")


ROLL_MED_HALF = 3


def rolling_median_daily(
    events: DataFrame, ts_col: str = "ts", half: int = ROLL_MED_HALF
) -> DataFrame:
    """Rolling 7-day median of the daily event-count series — the robust
    denoiser twin of seasonal_decompose's moving average (a single spike
    moves the mean by spike/7 but leaves the median untouched).

    Spark has no exact-median window frame, so the window is materialized
    as an offset explode (±half) + equi-join on day, then ONE median
    aggregate per center day; counts are integers, and an even-count
    median is (a+b)/2 — two exact ops — so values hash-match the DuckDB
    twin.  Partial edge windows are dropped (count == 2·half+1 only).
    Scale: the explode is 7× the CALENDAR-sized daily aggregate, not the
    corpus.
    """
    spine = _calendar_spine(events, ts_col)
    width = 2 * half + 1
    exploded = spine.select(
        F.explode(
            F.sequence(F.lit(-half), F.lit(half))
        ).alias("off"),
        (F.col("day")).alias("src_day"),
        "cnt",
    ).select((F.col("src_day") + F.col("off")).alias("day"), "cnt")
    # n_win == width already confines output to full interior windows
    # (days outside [lo+half, hi-half] receive < width contributions)
    return (
        exploded.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.median("cnt").alias("med"),
        )
        .filter(F.col("n_win") == width)
        .select("day", F.col("med").alias("rolling_median"))
        .orderBy("day")
    )


AFFINITY_TOP_K = 20
AFFINITY_MIN_SUPPORT = 2


def part_affinity(
    lineitem: DataFrame,
    k: int = AFFINITY_TOP_K,
    min_support: int = AFFINITY_MIN_SUPPORT,
) -> DataFrame:
    """Market-basket affinity: top-k part pairs by lift
    lift(a,b) = P(a,b)/(P(a)·P(b)) = n_ab·N / (n_a·n_b) over orders.

    Exactness: all counts are integers; n_ab·N and n_a·n_b are exact
    doubles (< 2^53 at any realistic basket count — documented bound),
    so lift is ONE correctly-rounded division.  Ties break on (a, b).

    Scale shape: baskets are small (lines per order is bounded by the
    order, not the corpus), so ONE orderkey shuffle materializes each
    order's distinct sorted part-set (collect_set — dedup rides the same
    partial agg), and the within-order pair fan-out (≤ C(max_lines, 2)
    per order) is a MAP-SIDE array expression off that one shuffle —
    never a corpus-wide self-join, and never a second distinct pass for
    the per-part / order counts, which read the same basket rows;
    pair/part counts partial-aggregate; the final top-k is a
    TakeOrderedAndProject.  (An earlier items-self-join form recomputed
    the distinct shuffle for each of its four consumers: 2.7 s → 1.5 s
    at sf0.1.)
    """
    # persist: the basket index feeds three consumers (pair counts, part
    # counts, order count) — one dedup/grouping shuffle instead of three
    # (self-join analysis re-aliases the repeated subtree's exprIds, which
    # defeats ReuseExchange; same pattern as user_similarity's hour index)
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    ).persist()
    n = F.size("ps")
    # sorted distinct parts → nested slice enumerates exactly the a<b pairs
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, n),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_cnt = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .select(
            F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b")
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    part_cnt = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    scored = (
        pair_cnt.join(
            part_cnt.select(
                F.col("p").alias("part_a"), F.col("n_p").alias("n_a")
            ),
            "part_a",
        )
        .join(
            part_cnt.select(
                F.col("p").alias("part_b"), F.col("n_p").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    return global_top_k(
        scored,
        [F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()],
        k,
    )


SURVIVAL_CENSOR_DAYS = 7


def survival_curve(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    censor_days: int = SURVIVAL_CENSOR_DAYS,
) -> DataFrame:
    """Kaplan–Meier user-survival estimator over event lifetimes:
    S(t) = Π_{s ≤ t} (1 − d_s/n_s), where a user's lifetime is
    last-event-day − first-event-day and users whose last event falls
    within `censor_days` of the corpus end are right-censored (still
    active; they contribute to the at-risk set but not to deaths).

    Exactness: d_s, c_s, n_s are integers (suffix-sum window on the
    aggregate-scale lifetime table); each daily factor is one
    correctly-rounded division; the cumulative product folds
    LEFT-TO-RIGHT over the sorted factor array — stated as the identical
    sequential reduce in the DuckDB oracle, so every prefix product is
    bit-equal (no exp/ln).  The O(T²) prefix-fold runs on ONE collected
    row of calendar-bounded length (a decade of daily steps is ~3.7k
    entries — sketch-sized, the same driver-materialization class as a
    histogram).

    Scale shape: one corpus shuffle to per-user (first, last); everything
    after runs at lifetime-table scale.  Returns
    (t_days, n_risk, n_events, n_censored, survival).
    """
    # day arithmetic stays in INTEGER division (div) — a double divide +
    # cast could truncate differently than the oracle's // at quotient
    # boundaries
    per_user = events.groupBy(user_col).agg(
        F.expr(f"max(unix_micros({ts_col})) div {DAY_US}").alias("last_day"),
        F.expr(
            f"(max(unix_micros({ts_col})) - min(unix_micros({ts_col})))"
            f" div {DAY_US}"
        ).alias("t_days"),
    )
    # a subject with NO valid event time has an undefined lifetime — it
    # can be in no at-risk set (r12 --nulls audit: unfiltered, the NULL
    # t_days row sorts NULLS-FIRST into the suffix window here but
    # NULLS-LAST in the oracle, and its NULL censored flag poisons the
    # death counts asymmetrically)
    per_user = per_user.filter(F.col("t_days").isNotNull())
    horizon = events.agg(
        F.expr(f"max(unix_micros({ts_col})) div {DAY_US}").alias("max_day")
    )
    marked = per_user.crossJoin(F.broadcast(horizon)).select(
        "t_days",
        (
            F.col("last_day") >= F.col("max_day") - F.lit(censor_days)
        ).alias("censored"),
    )
    lt = marked.groupBy("t_days").agg(
        F.sum((~F.col("censored")).cast("long")).alias("n_events"),
        F.sum(F.col("censored").cast("long")).alias("n_censored"),
    )
    w_suffix = Window.orderBy(F.col("t_days").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = lt.select(
        "t_days",
        "n_events",
        "n_censored",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w_suffix)
        .alias("n_risk"),
    )
    packed = risk.orderBy("t_days").agg(
        F.collect_list(
            F.struct("t_days", "n_risk", "n_events", "n_censored")
        ).alias("rows")
    )
    # factor_i = 1 - d_i/n_i (one rounded division); survival_i = the
    # left fold of factors 0..i — identical literal order in the oracle
    surv = F.expr(
        "transform(sequence(1, size(rows)), i -> "
        " aggregate(slice(rows, 1, i), cast(1.0 as double), "
        "  (acc, r) -> acc * (cast(1.0 as double) "
        "   - cast(r.n_events as double) / cast(r.n_risk as double))))"
    )
    return (
        packed.select(
            F.posexplode(
                F.arrays_zip(F.col("rows"), surv.alias("surv"))
            ).alias("pos", "z")
        )
        .select(
            F.col("z.rows.t_days").alias("t_days"),
            F.col("z.rows.n_risk").alias("n_risk"),
            F.col("z.rows.n_events").alias("n_events"),
            F.col("z.rows.n_censored").alias("n_censored"),
            F.col("z.surv").alias("survival"),
        )
        .orderBy("t_days")
    )


AB_CONVERSION_TYPE = "purchase"
AB_CONVERSION_MIN = 14  # conversions = users with >= this many events


def ab_test_zscores(
    events: DataFrame,
    conversion_type: str = AB_CONVERSION_TYPE,
    min_count: int = AB_CONVERSION_MIN,
    user_col: str = "user_id",
) -> DataFrame:
    """Two-proportion z-test of conversion rate between a deterministic
    50/50 user split (user_id parity — the replayable stand-in for an
    assignment table): z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)).
    "Conversion" = the user logged ≥ min_count events of the conversion
    type (a count threshold — on this corpus every user purchases at
    least once, so presence alone is degenerate with p̂ = 1).

    Exactness: group sizes and conversion counts are integers; the z
    expression is a fixed tree of single correctly-rounded IEEE ops
    (divisions, one subtraction, multiplies, IEEE-exact sqrt) stated
    identically in the oracle — no accumulation-order hazard.

    Scale: one shuffle to per-user conversion flags, then integer
    partial aggs; output is one row per arm pair (constant).
    Returns (n_a, n_b, conv_a, conv_b, rate_a, rate_b, z_score).
    """
    per_user = events.groupBy(user_col).agg(
        (
            F.sum((F.col("event_type") == conversion_type).cast("long"))
            >= min_count
        )
        .cast("int")
        .alias("converted")
    )
    armed = per_user.select(
        F.pmod(F.col(user_col), F.lit(2)).alias("arm"),
        "converted",
    )
    agg = armed.groupBy().pivot("arm", [0, 1]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    n_a, n_b = F.col("0_n"), F.col("1_n")
    c_a, c_b = F.col("0_conv"), F.col("1_conv")
    p_a = c_a.cast("double") / n_a.cast("double")
    p_b = c_b.cast("double") / n_b.cast("double")
    p_pool = (c_a + c_b).cast("double") / (n_a + n_b).cast("double")
    se = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (
            F.lit(1.0) / n_a.cast("double")
            + F.lit(1.0) / n_b.cast("double")
        )
    )
    return agg.select(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        c_a.alias("conv_a"),
        c_b.alias("conv_b"),
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        # degenerate arms (p_pool 0 or 1) -> NULL, stated in both engines
        F.when(se != 0.0, (p_a - p_b) / se).alias("z_score"),
    )


EXPECT_VALUE_MAX = 1_000_000.0


def expectation_suite(events: DataFrame) -> DataFrame:
    """Declarative data-quality expectation suite over the events table —
    the Great-Expectations-shaped pre-training gate: one row per check,
    (check, passed, n_violations), all checks evaluated in a SINGLE
    aggregation pass over one scan (conditional counts — profiling's
    one-pass pattern, not one job per rule).

    Checks: required columns non-null, event_id unique, value within
    [0, EXPECT_VALUE_MAX], ts within [2000, 2100), event_type in the
    observed enum ∪ no empty strings, props parseable JSON (try-cast).
    """
    checks = [
        ("event_id_not_null", F.col("event_id").isNull()),
        ("user_id_not_null", F.col("user_id").isNull()),
        ("ts_not_null", F.col("ts").isNull()),
        (
            "value_in_range",
            ~F.col("value").between(0.0, EXPECT_VALUE_MAX)
            & F.col("value").isNotNull(),
        ),
        (
            "ts_in_century",
            (F.year("ts") < 2000) | (F.year("ts") >= 2100),
        ),
        (
            "event_type_not_blank",
            F.col("event_type").isNull() | (F.trim("event_type") == ""),
        ),
        (
            "props_valid_json",
            F.col("props").isNotNull()
            & F.try_parse_json(F.col("props")).isNull(),
        ),
    ]
    aggs = [
        F.sum(cond.cast("long")).alias(f"v_{name}") for name, cond in checks
    ]
    # uniqueness needs a distinct — countDistinct rides the same agg
    aggs.append(
        (F.count("event_id") - F.countDistinct("event_id")).alias("v_dup")
    )
    row = events.agg(*aggs)
    per_check = [
        F.struct(
            F.lit(name).alias("check"),
            (F.col(f"v_{name}") == 0).alias("passed"),
            F.col(f"v_{name}").alias("n_violations"),
        )
        for name, _ in checks
    ] + [
        F.struct(
            F.lit("event_id_unique").alias("check"),
            (F.col("v_dup") == 0).alias("passed"),
            F.col("v_dup").alias("n_violations"),
        )
    ]
    return (
        row.select(F.explode(F.array(*per_check)).alias("c"))
        .select("c.*")
        .orderBy("check")
    )


PATTERN_W = 7  # window length (days) for series pattern matching
PATTERN_TOP_K = 5


def pattern_match_daily(
    events: DataFrame,
    ts_col: str = "ts",
    w: int = PATTERN_W,
    k: int = PATTERN_TOP_K,
) -> DataFrame:
    """Time-series subsequence similarity search (the streaming-systems
    motif-matching primitive, cf. EDBT'19 series-similarity line): find
    the k historical w-day windows of the daily event-count series most
    correlated with the MOST RECENT w-day window.

    Pearson correlation between windows uses the same integer-moment
    scheme as event_type_correlation: per-window Σx, Σx², and the cross
    moment Σx·q are exact integer sums over the aligned offsets, so the
    estimator is a fixed tree of correctly-rounded ops (casts, IEEE
    sqrt, multiply, divide).  Flat windows (zero variance) are excluded
    — correlation is undefined there — identically in both engines.

    Scale: one corpus shuffle to daily counts; the offset explode (w×)
    and the window join run on the calendar-bounded aggregate.  Query
    windows overlapping the pattern window are excluded.  Returns
    (start_day, corr) ordered by corr desc, start_day asc.
    """
    spine = _calendar_spine(events, ts_col)
    # windows: start day s covers offsets 0..w-1
    win = spine.select(
        F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("off"),
        F.col("day").alias("src_day"),
        "cnt",
    ).select(
        (F.col("src_day") - F.col("off")).alias("start"),
        "off",
        F.col("cnt").cast("decimal(38,0)").alias("x"),
    )
    full = (
        win.groupBy("start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n") == w)
    )
    q_start = spine.agg(
        (F.max("day") - F.lit(w - 1)).alias("qs")
    )
    q = (
        win.crossJoin(F.broadcast(q_start))
        .filter(F.col("start") == F.col("qs"))
        .select("off", F.col("x").alias("qx"))
    )
    joint = (
        win.join(F.broadcast(q), "off")
        .groupBy("start")
        .agg(F.sum(F.col("x") * F.col("qx")).alias("sxq"))
    )
    qm = q.agg(
        F.sum("qx").alias("sq"), F.sum(F.col("qx") * F.col("qx")).alias("sqq")
    )
    wl = F.lit(w).cast("decimal(38,0)")
    num = (wl * F.col("sxq") - F.col("sx") * F.col("sq")).cast("double")
    vx = (wl * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vq = (wl * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    scored = (
        full.join(joint, "start")
        .crossJoin(F.broadcast(qm))
        .crossJoin(F.broadcast(q_start))
        .filter(F.col("start") <= F.col("qs") - F.lit(w))  # no overlap
        .filter(vx != 0.0)
        .select(
            F.col("start").alias("start_day"),
            (num / (F.sqrt(vx) * F.sqrt(vq))).alias("corr"),
        )
    )
    return global_top_k(
        scored, [F.col("corr").desc(), F.col("start_day").asc()], k
    )


GAP_BUCKET = 100_000  # ids per bucket: bounds any single window partition


def sequence_gap_audit(
    events: DataFrame, seq_col: str = "event_id", bucket: int = GAP_BUCKET
) -> DataFrame:
    """Missing-sequence audit over a monotonically-assigned id column —
    the CDC completeness check (dropped offsets / lost messages) the
    reference's at-least-once pipelines assume away: emit one row per
    gap (gap_start, gap_end, n_missing) where ids jump by more than 1.

    Scale shape — the naive form is a lag() over ONE global sort
    (single-reducer).  Instead: ids bucket by range (id div bucket);
    within-bucket gaps come from a lag window PARTITIONED by bucket
    (each partition ≤ bucket ids); cross-boundary gaps come from the
    per-bucket (min, max) aggregate — bucket-count-sized — self-joined
    to the NEXT non-empty bucket.  Empty buckets between two non-empty
    ones fold into the boundary gap, so coverage is complete; a test
    proves equality with the naive global-sort form.
    """
    ids = events.select(F.col(seq_col).cast("long").alias("id")).distinct()
    b = ids.withColumn("bkt", F.expr(f"id div {bucket}"))
    w = Window.partitionBy("bkt").orderBy("id")
    intra = (
        b.withColumn("prev", F.lag("id").over(w))
        .filter(F.col("id") - F.col("prev") > 1)
        .select(
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("id") - 1).alias("gap_end"),
        )
    )
    spans = b.groupBy("bkt").agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    )
    wb = Window.orderBy("bkt")  # bucket-count-sized: tiny by construction
    inter = (
        spans.withColumn("prev_hi", F.lag("hi").over(wb))
        .filter(F.col("lo") - F.col("prev_hi") > 1)
        .select(
            (F.col("prev_hi") + 1).alias("gap_start"),
            (F.col("lo") - 1).alias("gap_end"),
        )
    )
    return (
        intra.unionByName(inter)
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing"),
        )
        .orderBy("gap_start")
    )


RANK_BUCKETS = 1024


def distributed_rank(
    df: DataFrame,
    value: Column,
    tiebreak: Column,
    ascending: bool = True,
    n_buckets: int = RANK_BUCKETS,
    small_limit: int | None = None,
) -> DataFrame:
    """Exact global 0-based dense row rank over (value, tiebreak) WITHOUT
    a single-reducer global window: equi-width value-range buckets
    (bounds from one scalar agg), per-bucket counts folded into
    cumulative offsets (≤ n_buckets rows, broadcast), rank = bucket
    offset + within-bucket row_number — the same terasort shape as
    corpus.global_shuffle, generalized to an arbitrary value column.
    Appends a `_rank` column.  `tiebreak` must be unique for a total
    (deterministic, oracle-matchable) order.

    The double cast is used ONLY for bucket assignment (where collisions
    merely co-locate rows); within-bucket ordering uses the ORIGINAL
    value column, so decimal/long values beyond 53 bits of double
    precision still rank in true value order.  (Cast-to-double is
    monotonic, so bucket boundaries stay consistent with the exact
    order.)

    Regime switch (same as ``range_rank``): inputs probed at ≤
    ``small_limit`` rows (default ``RANGE_RANK_SMALL``; early-exit
    ``limit(n+1).count()``) take one partition-less window — at
    aggregate scale (a customer table feeding quintiles) a single-task
    sort beats the bucket machinery's extra jobs of fixed latency.  Both
    regimes emit identical ranks (same unique total order); pass
    ``small_limit=0`` to force the distributed regime.
    """
    if small_limit is None:
        small_limit = RANGE_RANK_SMALL
    if small_limit and df.limit(small_limit + 1).count() <= small_limit:
        order = (
            [value.asc(), tiebreak.asc()]
            if ascending
            else [value.desc(), tiebreak.asc()]
        )
        w_small = Window.orderBy(*order)
        # cast to long so both regimes emit the SAME schema (the
        # distributed path's sum(offset)+row_number is LongType) —
        # otherwise a scale-factor change flips downstream schemas
        return df.withColumn(
            "_rank", (F.row_number().over(w_small) - 1).cast("long")
        )
    v = value.cast("double").alias("_v")
    base = df.select("*", v, value.alias("_vx"), tiebreak.alias("_tb"))
    bounds = base.agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo") + F.lit(1e-9)
    raw_bkt = F.floor(
        (F.col("_v") - F.col("_lo")) * F.lit(float(n_buckets)) / span
    )
    bkt = (
        F.least(F.lit(n_buckets - 1), raw_bkt)
        if ascending
        else -F.least(F.lit(n_buckets - 1), raw_bkt)
    )
    keyed = base.crossJoin(F.broadcast(bounds)).withColumn("_bkt", bkt)
    counts = keyed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_bkt",
        (
            F.sum("_n").over(
                Window.orderBy("_bkt").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("_n")
        ).alias("_off"),
    )
    order = (
        [F.col("_vx").asc(), F.col("_tb").asc()]
        if ascending
        else [F.col("_vx").desc(), F.col("_tb").asc()]
    )
    in_bucket = Window.partitionBy("_bkt").orderBy(*order)
    return (
        keyed.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_rank", F.col("_off") + F.row_number().over(in_bucket) - 1
        )
        .drop("_v", "_vx", "_tb", "_bkt", "_lo", "_hi", "_off")
    )


RANGE_RANK_SMALL = 2_000_000  # single-task sort of ≤2M skinny rows: sub-second


def range_rank(
    df: DataFrame,
    order_cols: list[Column],
    n_parts: int | None = None,
    small_limit: int = RANGE_RANK_SMALL,
) -> DataFrame:
    """Exact global 1-based row rank over ``order_cols`` for SKEWED keys —
    the terasort shape with SAMPLED range boundaries instead of
    `distributed_rank`'s equi-width value buckets (which collapse on
    Zipf-distributed values: a df-frequency column puts half the rows in
    bucket 0).  ``repartitionByRange`` reservoir-samples balanced
    boundaries; rank = partition offset (≤ n_parts rows, broadcast) +
    within-partition row_number — no single-reducer global window.

    The range-partitioned input is persisted: boundary sampling is not
    guaranteed identical across re-evaluations, and the offsets branch
    and the rank branch MUST see the same partition assignment.  (Output
    VALUES are deterministic regardless of where the sampled boundaries
    land — offsets are computed from actual per-partition counts — the
    persist only pins the two branches to one assignment.)  On a real
    cluster size n_parts so each range fits one task; the persist spills
    to disk past memory, the same materialization a terasort pays.

    Appends `_rank`.  ``order_cols`` must form a unique total order for a
    deterministic (oracle-matchable) result.

    Regime switch (the `connected_components` pattern): inputs probed at
    ≤ ``small_limit`` rows (early-exit `limit(n+1).count()`) take one
    partition-less window — at aggregate scale a single-task sort of ≤2M
    skinny rows beats the range machinery's ~4 extra jobs of fixed
    latency.  Both regimes emit identical ranks (same unique total
    order), so oracle checks hold on either path; pass ``small_limit=0``
    to force the distributed regime.
    """
    if small_limit and df.limit(small_limit + 1).count() <= small_limit:
        w_small = Window.orderBy(*order_cols)
        # cast to long: the distributed path emits LongType (_off sum +
        # row_number), so the small path must match for schema stability
        return df.withColumn(
            "_rank", F.row_number().over(w_small).cast("long")
        )
    n = int(
        n_parts
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    parted = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_pid",
            (
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("_n")
            ).alias("_off"),
        )
    )
    in_part = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        parted.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_off") + F.row_number().over(in_part))
        .drop("_pid", "_off")
    )


RFM_TILES = 5


def rfm_scores(
    orders: DataFrame, ts_col: str = "o_orderdate"
) -> DataFrame:
    """RFM customer segmentation: quintile scores for Recency (days
    since last order — LOW is good), Frequency (#orders), Monetary
    (total spend, decimal-exact), combined as rfm = 100·R + 10·F + M.

    Quintiles come from the EXACT distributed rank (terasort-shaped
    `distributed_rank`, never a single-reducer global ntile):
    tile = (rank · 5) div n + 1 with custkey tie-breaks, so the scores
    are deterministic and the DuckDB oracle reproduces them with a plain
    ROW_NUMBER — identical integer arithmetic from there.
    """
    # NULL-key orders are dropped before grouping (r12 --nulls audit):
    # a NULL custkey is not a customer — the reference drops null-key
    # records at groupBy the same way — and unfiltered, its NULL
    # recency/monetary would rank NULLS-FIRST here vs NULLS-LAST in the
    # oracle, shifting every real customer's quintile by one
    per_cust = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.expr(
                f"max(unix_micros({ts_col})) div {DAY_US}"
            ).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    horizon = orders.agg(
        F.expr(f"max(unix_micros({ts_col})) div {DAY_US}").alias("max_day")
    )
    base = per_cust.crossJoin(F.broadcast(horizon)).select(
        "o_custkey",
        (F.col("max_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    # Regime switch (the range_rank pattern): the customer aggregate is
    # usually orders-of-magnitude smaller than orders — probed at ≤2M
    # rows, all three quintiles come from three partition-less windows in
    # ONE plan and one job (probe count doubles as the exact n), instead
    # of three checkpointed distributed-rank tiles. Tile arithmetic is
    # INTEGER division either way (a double divide could round across a
    # tile boundary differently than the oracle's //); both regimes emit
    # identical scores.
    probe = base.limit(RANGE_RANK_SMALL + 1).count()
    if probe <= RANGE_RANK_SMALL:
        n = probe
        scored = base
        for colname, out in [
            ("recency_days", "q_r"),
            ("frequency", "q_f"),
            ("monetary", "q_m"),
        ]:
            w = Window.orderBy(
                F.col(colname).asc(), F.col("o_custkey").asc()
            )
            scored = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
                out, F.expr(f"((_rn - 1) * {RFM_TILES}) div {n} + 1")
            ).drop("_rn")
    else:
        # customer count rides as a broadcast scalar (lazy — no eager
        # count at construction)
        n_cust = base.agg(F.count(F.lit(1)).alias("_n"))

        def tile(df: DataFrame, col: str, out: str) -> DataFrame:
            ranked = distributed_rank(
                df, F.col(col), F.col("o_custkey"), ascending=True,
                small_limit=0,
            )
            return (
                ranked.crossJoin(F.broadcast(n_cust))
                .withColumn(
                    out, F.expr(f"(_rank * {RFM_TILES}) div _n") + F.lit(1)
                )
                .drop("_rank", "_n")
                # each tile references its input 2× (bounds agg + keyed
                # rows); chained un-checkpointed, the customer aggregate
                # re-plans 2³ times — the checkpoint keeps the per-tile
                # plan flat and is customer-table-sized
                .localCheckpoint()
            )

        scored = tile(
            tile(tile(base, "recency_days", "q_r"), "frequency", "q_f"),
            "monetary", "q_m",
        )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(RFM_TILES + 1) - F.col("q_r")).alias("r_score"),
        F.col("q_f").alias("f_score"),
        F.col("q_m").alias("m_score"),
        (
            (F.lit(RFM_TILES + 1) - F.col("q_r")) * 100
            + F.col("q_f") * 10
            + F.col("q_m")
        ).alias("rfm"),
    )


DYN_GAPS = {"purchase": 3600, "signup": 3600}  # seconds; others default
DYN_GAP_DEFAULT = 1800


def dynamic_sessions(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    gaps: dict[str, int] | None = None,
    default_gap: int = DYN_GAP_DEFAULT,
) -> DataFrame:
    """Sessionization with a DYNAMIC inactivity gap: the allowed gap after
    an event depends on that event's type (a purchase keeps the session
    alive longer than a view) — the batch twin of Spark's
    session_window(gap_expression) dynamic-gap form.

    Same island construction as user_sessions (lag + cumulative flag sum,
    ONE shuffle per user), with the gap looked up from the PREVIOUS
    event's type: new_session ⇔ ts − prev_ts > gap(prev_type).
    Integer epoch-second arithmetic throughout.  Returns per-session
    (user_id, session_id, n_events, start_ts, end_ts).
    """
    g = gaps or DYN_GAPS
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col("event_id").asc())
    gap_expr = F.lit(default_gap)
    for t, sec in sorted(g.items()):
        gap_expr = F.when(F.lag(type_col).over(w) == t, F.lit(sec)).otherwise(
            gap_expr
        )
    prev_us = F.lag(us).over(w)
    new_flag = F.when(
        prev_us.isNull()
        | (us - prev_us > gap_expr.cast("long") * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        events.withColumn("_new", new_flag)
        .withColumn(
            "session_id",
            F.sum("_new")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
    )
    return sess.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
    )


def kendall_tau_types(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Kendall τ-b rank correlation between the daily count series of every
    event-type pair — the robust (outlier-proof) twin of
    event_type_correlation's Pearson matrix.

    τ-b is built ENTIRELY from integer pair counts over the
    calendar-bounded series: concordant C, discordant D, ties-in-x-only
    Tx, ties-in-y-only Ty over all day pairs (i < j);
    τ = (C − D) / (√(C+D+Tx) · √(C+D+Ty)).  The only floating ops are
    two IEEE-exact sqrts, one multiply, one divide — engine-equal.
    The day-pair join is O(days²) on the AGGREGATE (a decade is ~3.7k
    days → 7M pairs, executor-trivial); the corpus is touched once.
    """
    daily = (
        events.select(
            F.expr(f"unix_micros({ts_col}) div {DAY_US}").alias("day"),
            F.col("event_type").alias("et"),
        )
        .groupBy("day", "et")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
        .crossJoin(daily.select("et").distinct())
        .join(daily, ["day", "et"], "left")
        .select(
            "day", "et", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
        )
    
        # persisted: the typed spine references `daily` three times and
        # feeds multiple downstream branches; calendar×type scale
    ).persist()
    x = spine.select(
        "day", F.col("et").alias("type_a"), F.col("cnt").alias("xa")
    )
    y = spine.select(
        "day", F.col("et").alias("type_b"), F.col("cnt").alias("xb")
    )
    obs = x.join(y, "day").filter(F.col("type_a") < F.col("type_b"))
    o1 = obs.select(
        "type_a", "type_b", F.col("day").alias("d1"),
        F.col("xa").alias("a1"), F.col("xb").alias("b1"),
    )
    o2 = obs.select(
        "type_a", "type_b", F.col("day").alias("d2"),
        F.col("xa").alias("a2"), F.col("xb").alias("b2"),
    )
    pairs = o1.join(o2, ["type_a", "type_b"]).filter(F.col("d1") < F.col("d2"))
    sx = F.signum((F.col("a2") - F.col("a1")).cast("double"))
    sy = F.signum((F.col("b2") - F.col("b1")).cast("double"))
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.sum((sx * sy > 0).cast("long")).alias("c"),
        F.sum((sx * sy < 0).cast("long")).alias("d"),
        F.sum(((sx == 0) & (sy != 0)).cast("long")).alias("tx"),
        F.sum(((sx != 0) & (sy == 0)).cast("long")).alias("ty"),
    )
    denom = F.sqrt(
        (F.col("c") + F.col("d") + F.col("tx")).cast("double")
    ) * F.sqrt((F.col("c") + F.col("d") + F.col("ty")).cast("double"))
    return agg.select(
        "type_a",
        "type_b",
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.when(denom != 0.0, (F.col("c") - F.col("d")).cast("double") / denom)
        .alias("tau_b"),
    ).orderBy("type_a", "type_b")


SEAS_ANOM_K = 3.5  # MAD multiplier (≈3σ-equivalent for normal residuals)


def seasonal_anomalies(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Seasonality-aware anomaly flags: decompose the daily series
    (seasonal_decompose — trend + day-of-week effect removed), then flag
    days whose residual deviates from the median residual by more than
    K·MAD — the robust control chart that a plain z-score can't give on
    strongly weekly data.

    Exactness: residuals are seasonal_decompose's fixed expression; the
    two medians are exact sorted-middle statistics on the calendar-
    bounded series (even counts average two values — one add + one
    divide, engine-equal); the flag compares single-rounded products.
    Scale: everything past the daily groupBy runs at calendar scale.
    Returns (day, cnt, residual, dev, is_anomaly) for ALL interior days.
    """
    # persist: the decomposition feeds the median, the MAD, and the final
    # projection — one events scan + daily aggregate instead of three
    # (the cached relation is calendar-scale: one row per day)
    dec = seasonal_decompose(events, ts_col=ts_col).persist()
    med = dec.agg(F.median("residual").alias("med"))
    dev = dec.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("residual") - F.col("med"))
    )
    mad = dev.agg(F.median("dev").alias("mad"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "cnt",
            "residual",
            "dev",
            (F.col("dev") > F.lit(SEAS_ANOM_K) * F.col("mad")).alias(
                "is_anomaly"
            ),
        )
        .orderBy("day")
    )


LAG_FROM_TYPE = "signup"
LAG_TO_TYPE = "purchase"


def conversion_lag_quantiles(
    events: DataFrame,
    from_type: str = LAG_FROM_TYPE,
    to_type: str = LAG_TO_TYPE,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from the FIRST
    `from_type` event to the first `to_type` event at-or-after it, then
    exact interpolated p25/p50/p75/p90 over converting users — the
    funnel-latency SLA panel.

    Lags are integer seconds (epoch-µs div); exact percentile is a
    sort-based aggregate over the USER-scale lag table (one row per
    converting user), with the same interpolation DuckDB's quantile_cont
    states.  Users who never convert are counted, not quantiled.
    Returns one row: (n_from, n_converted, p25_s, p50_s, p75_s, p90_s).
    """
    us = F.unix_micros(F.col(ts_col))
    firsts = (
        events.filter(F.col("event_type").isin(from_type, to_type))
        .groupBy(user_col)
        .agg(
            F.min(F.when(F.col("event_type") == from_type, us)).alias("f_us"),
            F.min(
                F.when(F.col("event_type") == to_type, us)
            ).alias("first_to_us"),
        )
        .filter(F.col("f_us").isNotNull())
        # persist: feeds the at-or-after join AND the n_from scalar —
        # one events shuffle instead of two
        .persist()
    )
    # first to-event AT OR AFTER the from-event needs a conditional min
    per_user = (
        events.filter(F.col("event_type") == to_type)
        .select(F.col(user_col).alias("u2"), us.alias("t_us"))
        .join(firsts, F.col("u2") == F.col(user_col))
        .filter(F.col("t_us") >= F.col("f_us"))
        .groupBy(user_col)
        .agg(
            F.expr("(min(t_us) - first(f_us)) div 1000000").alias("lag_s")
        )
    )
    n_from = firsts.agg(F.count(F.lit(1)).alias("n_from"))
    pct = F.percentile(
        "lag_s",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9)),
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_converted"),
        pct.alias("p"),
    )
    return agg.crossJoin(F.broadcast(n_from)).select(
        "n_from",
        "n_converted",
        F.round(F.col("p").getItem(0), 6).alias("p25_s"),
        F.round(F.col("p").getItem(1), 6).alias("p50_s"),
        F.round(F.col("p").getItem(2), 6).alias("p75_s"),
        F.round(F.col("p").getItem(3), 6).alias("p90_s"),
    )


BURST_MIN_GAPS = 5
BURST_TOP_K = 20


def user_burstiness(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    min_gaps: int = BURST_MIN_GAPS,
    k: int = BURST_TOP_K,
) -> DataFrame:
    """Burstiness of each user's event stream (Goh & Barabási '08):
    B = (σ − μ)/(σ + μ) over inter-event gaps — B→−1 periodic, 0
    Poisson, →1 bursty.  The behavioral feature separating schedulers
    and bots (periodic) from humans (bursty).

    Gaps are integer seconds (epoch div); Σg and Σg² accumulate in
    DECIMAL(38,0); σ = √(n·Σg² − S²)/n and μ = S/n are then fixed trees
    of correctly-rounded ops (IEEE sqrt), so B is engine-exact.  One
    shuffle on user (lag window), one partial-agg; top-k is
    TakeOrderedAndProject.  Users with < min_gaps gaps are excluded
    (the statistic is noise there).
    """
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col("event_id").asc())
    gaps = (
        events.withColumn("_prev", F.lag(us).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            user_col,
            F.expr(f"(unix_micros({ts_col}) - _prev) div 1000000")
            .cast("decimal(38,0)")
            .alias("g"),
        )
    )
    agg = (
        gaps.groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("g").alias("s"),
            F.sum(F.col("g") * F.col("g")).alias("ss"),
        )
        .filter(F.col("n_gaps") >= min_gaps)
    )
    n = F.col("n_gaps").cast("decimal(38,0)")
    mu = F.col("s").cast("double") / F.col("n_gaps").cast("double")
    sigma = (
        F.sqrt((n * F.col("ss") - F.col("s") * F.col("s")).cast("double"))
        / F.col("n_gaps").cast("double")
    )
    scored = agg.select(
        user_col,
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.when(
            sigma + mu != 0.0, (sigma - mu) / (sigma + mu)
        ).alias("burstiness"),
    )
    return global_top_k(
        scored,
        [F.col("burstiness").desc(), F.col(user_col).asc()],
        k,
    )


PATH_SCALE = 1_000_000_000


def user_path_score(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Behavioral-anomaly score: each user's event-type path scored under
    the corpus-wide first-order transition model — the event-sequence
    twin of bigram_lm_score (users whose transition patterns are rare
    under the global Markov matrix surface for review).

    p(b|a) = c(a,b)/c(a·) over time-ordered within-user transitions;
    per-transition integer score floor(p·1e9) (one exact product, one
    correctly-rounded division, floor), per-user mean of integers — no
    transcendentals, engine-exact.  Two aggregations hang off one
    user-partitioned lag window; the transition matrix is |types|² rows
    (broadcast).  Returns (user_id, n_transitions, mean_scaled_p).
    """
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col("event_id").asc())
    # persist: the lag-window transition table feeds both model counts AND
    # the scoring join — one per-user window shuffle instead of three
    trans = (
        events.withColumn("_prev", F.lag(type_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            user_col,
            F.col("_prev").alias("t_from"),
            F.col(type_col).alias("t_to"),
        )
        .persist()
    )
    c_ab = trans.groupBy("t_from", "t_to").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    c_a = trans.groupBy("t_from").agg(F.count(F.lit(1)).alias("n_a"))
    model = c_ab.join(c_a, "t_from").select(
        "t_from",
        "t_to",
        F.floor(
            F.col("n_ab").cast("double")
            * F.lit(float(PATH_SCALE))
            / F.col("n_a").cast("double")
        ).alias("sp"),
    )
    return (
        trans.join(F.broadcast(model), ["t_from", "t_to"])
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("sp").alias("_s"),
        )
        .select(
            user_col,
            "n_transitions",
            (
                F.col("_s").cast("double")
                / F.col("n_transitions").cast("double")
            ).alias("mean_scaled_p"),
        )
        .orderBy(user_col)
    )


def seasonal_decompose_by_group(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group additive decomposition of each group's daily count
    series — seasonal_decompose with every stage PARTITIONED by the
    group key, which is the form that actually scales: with G groups the
    windows shard G-ways (the global variant's unpartitioned window is
    fine only because one series is calendar-bounded; a per-entity
    decomposition over millions of entities NEEDS the partitioned
    shape).  Identical integer-numerator arithmetic per group.
    Returns (group, day, cnt, trend, seasonal, residual).
    """
    period, half = SEASON_PERIOD, TREND_HALF
    g = F.col(group_col).alias("grp")
    daily = (
        events.select(
            g, F.expr(f"unix_micros({ts_col}) div {DAY_US}").alias("day")
        )
        .groupBy("grp", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = (
        daily.groupBy("grp")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("grp", F.explode(F.sequence("lo", "hi")).alias("day"))
        .join(daily, ["grp", "day"], "left")
        .select(
            "grp",
            "day",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    
        # persisted: same multi-branch reuse, calendar×group scale
    ).persist()
    w = Window.partitionBy("grp").orderBy("day").rowsBetween(-half, half)
    full = (
        spine.withColumn("sum_w", F.sum("cnt").over(w))
        .withColumn("cw", F.count(F.lit(1)).over(w))
        .filter(F.col("cw") == period)
    )
    detr = full.withColumn(
        "detr_num", F.lit(period) * F.col("cnt") - F.col("sum_w")
    ).withColumn("dow", F.pmod(F.col("day"), F.lit(period)))
    per_dow = detr.groupBy("grp", "dow").agg(
        F.sum("detr_num").alias("s_num"), F.count(F.lit(1)).alias("n_dow")
    )
    out = detr.join(per_dow, ["grp", "dow"])
    trend = F.col("sum_w").cast("double") / F.lit(float(period))
    seasonal = F.col("s_num").cast("double") / (
        F.lit(period) * F.col("n_dow")
    ).cast("double")
    return out.select(
        F.col("grp").alias(group_col),
        "day",
        "cnt",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (F.col("cnt") - trend - seasonal).alias("residual"),
    ).orderBy(group_col, "day")


BACKTEST_MIN_TRAIN = 6  # months of history before the first forecast


def forecast_backtest(
    orders: DataFrame,
    ts_col: str = "o_orderdate",
    min_train: int = BACKTEST_MIN_TRAIN,
) -> DataFrame:
    """Rolling-origin backtest of a linear (OLS) monthly-revenue
    forecast: for every month m with ≥ min_train months of history, fit
    slope/intercept on months < m via prefix moments, predict m, and
    report the absolute percentage error — the evaluation harness that
    turns a forecast into a monitored model.

    Exactness: x = month index (integer), y = monthly revenue in
    DECIMAL(18,4); prefix sums Σx, Σy, Σxy, Σx², n come from cumulative
    windows over the MONTH-scale table in decimal (order-free).  The
    OLS terms and APE are then a fixed tree of correctly-rounded double
    ops, identical in the oracle.  Degenerate fits (zero x-variance)
    can't occur (x is 0..n−1).

    Scale: one corpus shuffle to monthly revenue; every window after
    runs on the months table.  Returns
    (month_idx, actual, predicted, ape) ordered by month.
    """
    # revenue carried as INTEGER ten-thousandths (decimal(38,0)) so every
    # moment is an exact integer — mixed-scale decimal(38,s) products
    # would hit Spark's precision clamp (silent scale reduction) and
    # diverge from DuckDB's decimal typing
    monthly = (
        orders.select(
            (F.year(ts_col) * 12 + F.month(ts_col) - 1)
            .cast("long")
            .alias("mi"),
            (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("decimal(38,0)")
            .alias("ys"),
        )
        .groupBy("mi")
        .agg(F.sum("ys").alias("ys"))
    )
    w0 = Window.orderBy("mi")
    idx = monthly.withColumn(
        "x", (F.row_number().over(w0) - 1).cast("decimal(38,0)")
    )
    wc = w0.rowsBetween(Window.unboundedPreceding, -1)  # strictly prior
    pre = (
        idx.withColumn("n", F.count(F.lit(1)).over(wc).cast("decimal(38,0)"))
        .withColumn("sx", F.sum("x").over(wc))
        .withColumn("sy", F.sum("ys").over(wc))
        .withColumn("sxy", F.sum(F.col("x") * F.col("ys")).over(wc))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(wc))
        .filter(F.col("n") >= min_train)
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    pred_s = intercept + slope * F.col("x").cast("double")
    ys_d = F.col("ys").cast("double")
    return pre.select(
        F.col("mi").alias("month_idx"),
        (ys_d / F.lit(10000.0)).alias("actual"),
        F.round(pred_s / F.lit(10000.0), 4).alias("predicted"),
        # try_divide: APE against a zero-revenue actual is undefined —
        # DuckDB ships NULL for /0, ANSI `/` would kill the backtest
        # (r12 unguarded-denominator sweep; same class as
        # revenue_mom_growth's zero lag)
        F.round(F.try_divide(F.abs(ys_d - pred_s), ys_d), 6).alias("ape"),
    ).orderBy("month_idx")


def dau_mau_stickiness(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """DAU/MAU stickiness per month: mean daily-active-users across the
    month's days divided by monthly-active-users — the classic product
    engagement ratio.  All counts integer; mean-DAU = Σdau/n_days (one
    division) and stickiness = mean_dau/mau (one division) — exact.
    One shuffle to (day, user) distinct; the month rollups run on
    aggregate-scale tables.  Returns (month_idx, n_days, mau, mean_dau,
    stickiness)."""
    day = F.expr(f"unix_micros({ts_col}) div {DAY_US}")
    du = events.select(
        day.alias("day"), F.col("user_id").alias("u")
    ).distinct()
    dm = du.withColumn("month_idx", F.expr(f"day div 30"))
    dau = dm.groupBy("month_idx", "day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    per_month_days = dau.groupBy("month_idx").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").alias("dau_sum"),
    )
    mau = dm.select("month_idx", "u").distinct().groupBy("month_idx").agg(
        F.count(F.lit(1)).alias("mau")
    )
    return (
        per_month_days.join(mau, "month_idx")
        .select(
            "month_idx",
            "n_days",
            "mau",
            (
                F.col("dau_sum").cast("double")
                / F.col("n_days").cast("double")
            ).alias("mean_dau"),
            (
                F.col("dau_sum").cast("double")
                / F.col("n_days").cast("double")
                / F.col("mau").cast("double")
            ).alias("stickiness"),
        )
        .orderBy("month_idx")
    )


POWER_USER_PCT = 10  # "top decile" concentration


def power_user_share(
    events: DataFrame, user_col: str = "user_id", pct: int = POWER_USER_PCT
) -> DataFrame:
    """Pareto concentration: the share of all events produced by the top
    pct% most-active users — the skew number behind both product ('whales')
    and shuffle-planning (hot keys) decisions.

    Users rank by event count via the terasort-shaped distributed_rank
    (ties to user id); the top-k cut is k = (n_users·pct) div 100 with
    integer arithmetic; shares are integer sums + one division.
    Returns one row (n_users, n_top, top_events, total_events, share)."""
    # persist: the per-user counts feed the rank (plus its size probe) AND
    # the totals scalar — one events shuffle instead of three
    per_user = events.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_ev")
    ).persist()
    ranked = distributed_rank(
        per_user, F.col("n_ev"), F.col(user_col), ascending=False
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_ev").alias("total_events"),
    )
    top = (
        ranked.crossJoin(F.broadcast(totals))
        .filter(
            F.col("_rank") < F.expr(f"(n_users * {pct}) div 100")
        )
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.sum("n_ev").alias("top_events"),
        )
    )
    return totals.crossJoin(top).select(
        "n_users",
        "n_top",
        "top_events",
        "total_events",
        (
            F.col("top_events").cast("double")
            / F.col("total_events").cast("double")
        ).alias("share"),
    )


def ltv_cohort_curve(orders: DataFrame, ts_col: str = "o_orderdate") -> DataFrame:
    """Customer-lifetime-value curve per acquisition cohort: customers
    cohort by their FIRST order month; revenue accumulates per
    (cohort, months-since-first) and normalizes by cohort size —
    the LTV panel behind payback-period decisions.

    Decimal-exact revenue sums; the cumulative window is PARTITIONED by
    cohort (shards with the cohort count); ltv = cum_rev/cohort_size is
    one rounded division.  Two shuffles: custkey (first-order month),
    then (cohort, month).  Returns
    (cohort_month, months_since, n_customers, cum_revenue, ltv).
    """
    mi = (F.year(ts_col) * 12 + F.month(ts_col) - 1).cast("long")
    with_m = orders.select(
        "o_custkey",
        mi.alias("mi"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("rev"),
    )
    # persist: the first-order table feeds cohort sizing AND the revenue
    # join — one custkey shuffle instead of two
    firsts = with_m.groupBy("o_custkey").agg(F.min("mi").alias("m0")).persist()
    sized = firsts.groupBy("m0").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    joined = with_m.join(firsts, "o_custkey").select(
        F.col("m0").alias("cohort_month"),
        (F.col("mi") - F.col("m0")).alias("months_since"),
        "rev",
    )
    per_cell = joined.groupBy("cohort_month", "months_since").agg(
        F.sum("rev").alias("rev_m")
    )
    w = Window.partitionBy("cohort_month").orderBy("months_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_cell.withColumn("cum_rev", F.sum("rev_m").over(w))
        .join(
            F.broadcast(sized.withColumnRenamed("m0", "cohort_month")),
            "cohort_month",
        )
        .select(
            "cohort_month",
            "months_since",
            "n_customers",
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            F.round(
                F.col("cum_rev").cast("double")
                / F.col("n_customers").cast("double"),
                6,
            ).alias("ltv"),
        )
        .orderBy("cohort_month", "months_since")
    )


# --- bootstrap confidence interval (deterministic LCG resampling) -------------

BOOT_B = 200  # resamples
# a fourth spectral-test-good LCG, distinct from corpus.SPLIT/SHUFFLE and
# frequency.STRAT so the resampling is independent of every other
# deterministic randomization in the repo
BOOT_A = 630_360_016
BOOT_C = 211_324_863
BOOT_P = 2_147_483_647


def bootstrap_ci_daily_revenue(
    orders: DataFrame, n_boot: int = BOOT_B
) -> DataFrame:
    """Nonparametric bootstrap CI for MEAN DAILY REVENUE, with a fully
    deterministic resampler (Efron's bootstrap with the RNG replaced by
    an integer LCG, so the oracle replays every draw):

      1. daily revenue per o_orderdate, summed in DECIMAL(18,4) (exact,
         order-independent); days indexed 0..n-1 by date order;
      2. draw t ∈ [0, B·n): resample b = t div n takes day
         (t·A + C) mod P mod n — B resamples of n draws each;
      3. resample mean = (decimal sum of drawn days) / n, ONE double
         division; the CI is the pair of ORDER STATISTICS of the B means
         at ranks ceil(0.05·B) / ceil(0.95·B) (no interpolation —
         selection is engine-exact, ties break on b).

    Output (one row): n_days, n_boot, mean_daily_revenue, ci_lo, ci_hi.

    Scale shape: the daily table is calendar-scale (≤ tens of thousands
    of rows at ANY corpus size), so the generated B·n draw table and the
    broadcast join against the indexed days are aggregate-scale by
    construction — the only corpus-scale work is the first groupBy
    (one shuffle with map-side partials). The B-row rank window is a
    global window at aggregate scale (gwin-legitimate).
    """
    # a revenue row with no date belongs to no day of the series (r12
    # --nulls audit: unfiltered, the NULL-date group indexes NULLS-FIRST
    # here but NULLS-LAST in the oracle, silently remapping every LCG
    # draw and shifting the CI)
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy("o_orderdate")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    w_idx = Window.orderBy("o_orderdate")
    indexed = daily.select(
        (F.row_number().over(w_idx) - 1).alias("day_idx"), "rev"
    )
    nrow = daily.agg(F.count(F.lit(1)).alias("n"))
    draws = nrow.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(n_boot) * F.col("n") - 1)
        ).alias("t"),
        "n",
    ).select(
        # integer division (NOT double-div + cast: DuckDB's ::BIGINT cast
        # rounds half-even, Spark's truncates — `div`/`//` agree exactly)
        F.expr("t div n").alias("b"),
        ((F.col("t") * BOOT_A + BOOT_C) % BOOT_P % F.col("n")).alias("sel"),
        "n",
    )
    means = (
        draws.join(F.broadcast(indexed), F.col("sel") == F.col("day_idx"))
        .groupBy("b", "n")
        .agg(F.sum("rev").alias("rsum"))
        .select(
            "b",
            (F.col("rsum").cast("double") / F.col("n").cast("double")).alias(
                "rmean"
            ),
        )
    )
    lo_rank = -(-5 * n_boot // 100)   # ceil(0.05 * B)
    hi_rank = -(-95 * n_boot // 100)  # ceil(0.95 * B)
    w_rank = Window.orderBy(F.col("rmean").asc(), F.col("b").asc())
    ranked = means.select("rmean", F.row_number().over(w_rank).alias("r"))
    ci = (
        ranked.filter(F.col("r").isin([lo_rank, hi_rank]))
        .groupBy()
        .agg(
            F.min(F.when(F.col("r") == lo_rank, F.col("rmean"))).alias(
                "ci_lo"
            ),
            F.min(F.when(F.col("r") == hi_rank, F.col("rmean"))).alias(
                "ci_hi"
            ),
        )
    )
    obs = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum("rev").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_daily_revenue"),
    )
    return (
        obs.crossJoin(F.broadcast(ci))
        .select(
            "n_days",
            F.lit(n_boot).cast("long").alias("n_boot"),
            "mean_daily_revenue",
            "ci_lo",
            "ci_hi",
        )
    )


# --- frequent sequential patterns (PrefixSpan-lite, bounded length) ------------

SEQ_GRAM_LEN = 3
SEQ_TOP_K = 25


def frequent_event_sequences(
    events: DataFrame,
    seq_len: int = SEQ_GRAM_LEN,
    top_k: int = SEQ_TOP_K,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Frequent CONTIGUOUS event sequences of fixed length across users —
    the bounded-fan-out member of the sequential-pattern-mining family
    (PrefixSpan, Pei et al. ICDE'01, restricted to contiguous windows so
    the candidate space is linear in events, not exponential in pattern
    length). Support = number of distinct users whose journey contains
    the pattern; occurrences ride along. The behavioral n-gram twin of
    `event_transitions` (order-1) and `user_path_score` (whole-path).

    Shape: ONE corpus shuffle (the per-user sorted-struct collect — the
    same secondary-sort pattern as user_event_paths, deterministic total
    order on (ts, event_id)); n-gram extraction is a map-side transform
    bounded by seq_len; per-(user, pattern) counts partial-aggregate
    before the pattern rollup; top-k via TakeOrderedAndProject.

    Returns (pattern, n_users, n_occurrences, rank), top_k rows ordered
    by (n_users desc, n_occurrences desc, pattern asc).
    """
    packed = F.struct(F.col(ts_col), F.col(id_col), F.col(type_col))
    seqs = events.groupBy(F.col(user_col).alias("u")).agg(
        F.sort_array(F.collect_list(packed)).alias("s")
    )
    from cdc_stream_processor_spark.functions import texthash as TH

    def grams_of(types):
        return F.when(
            F.size(types) >= seq_len,
            F.transform(
                F.sequence(F.lit(1), F.size(types) - (seq_len - 1)),
                lambda i: F.concat_ws(
                    ">",
                    *[F.element_at(types, i + j) for j in range(seq_len)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # let-bind the per-user type array: unbound, the struct-field
    # extraction over the whole collected sequence re-runs per element —
    # O(n²·seq_len) per user (r12 optimization, see TH.let)
    gram = TH.let(F.col("s").getField(type_col), grams_of)
    per_user = (
        seqs.select("u", F.explode(gram).alias("pattern"))
        .groupBy("u", "pattern")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    agg = per_user.groupBy("pattern").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("occ").alias("n_occurrences"),
    )
    topped = agg.orderBy(
        F.col("n_users").desc(),
        F.col("n_occurrences").desc(),
        F.col("pattern").asc(),
    ).limit(top_k)
    w = Window.orderBy(
        F.col("n_users").desc(),
        F.col("n_occurrences").desc(),
        F.col("pattern").asc(),
    )
    return topped.select(
        "pattern", "n_users", "n_occurrences",
        F.row_number().over(w).alias("rank"),
    )


def theil_sen_daily(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Theil–Sen robust trend of the daily event-count series: the
    median over all day pairs (i < j) of the pairwise slope
    (c_j − c_i)/(d_j − d_i). Resistant to ~29% outlier days, the robust
    companion to the OLS `forecast_revenue`/`forecast_backtest` line
    (Sen 1968). Median = the exact ⌈n/2⌉-th order statistic under the
    total order (slope, day_a, day_b) — deterministic across engines
    even with tied slopes, no interpolation (so the only double is one
    correctly-rounded division per pair).

    Scale: the corpus collapses to the calendar-bounded daily table in
    one shuffle; the pair grid and its single-partition rank window are
    days² — bounded by the time span, NOT the corpus (gwin-legitimate,
    same class as acf/seasonal).

    Returns one row: (n_days, n_pairs, ts_slope_per_day, med_day_a,
    med_day_b).
    """
    daily = _daily_counts(events, ts_col)
    a = daily.select(F.col("day").alias("da"), F.col("cnt").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("cnt").alias("cb"))
    slopes = a.join(b, F.col("da") < F.col("db")).select(
        "da",
        "db",
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("db") - F.col("da")).cast("double")
        ).alias("slope"),
    )
    w = Window.orderBy(
        F.col("slope").asc(), F.col("da").asc(), F.col("db").asc()
    )
    ranked = slopes.select(
        "da", "db", "slope", F.row_number().over(w).alias("rn")
    )
    stats = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    pick = ranked.crossJoin(F.broadcast(stats)).filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    )
    return (
        pick.crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "n_pairs",
            F.col("slope").alias("ts_slope_per_day"),
            F.col("da").alias("med_day_a"),
            F.col("db").alias("med_day_b"),
        )
    )
