"""Cross-engine divergence audit over pathological fixtures.

``degenerate_stress.py`` catches CRASHES on degenerate rows; this tool
catches the quieter failure the last two advice rounds each found by
hand (NULLS FIRST/LAST rank drift, NULL-vs-[] asymmetries): a query that
runs fine on both engines but silently returns DIFFERENT values once the
input carries rows the generated testdata never does. Every registered
query with an oracle is run on Spark AND DuckDB over the same
pathological fixture and compared with the driver-gate semantics
(sorted columns, exact-repr value multiset, NaN==NaN).

Per-query verdict:

- ``PASS``  — both engines succeed and agree.
- ``LOUD``  — BOTH engines raise. Symmetric loud failure is parity too
  (e.g. ANSI overflow on an Inf money column): the pipeline dies the
  same way on either engine instead of shipping silent garbage.
- ``DIVERGE`` — values/rowcount/columns differ, or exactly ONE engine
  raises. A finding unless allowlisted below with a triaged reason.

Modes (fixtures come from degenerate_stress):

    --mode fixed     degenerate row shapes, fixed-dim embeddings
    --mode unicode   adversarial text (ZWJ/bidi/zalgo/mega-token)
    --mode numeric   NaN/Inf/-0.0/denormal/huge in every numeric column,
                     plus all-zero GROUPS (zero month/year/region)
    --mode temporal  pathological timestamps (epoch 0, pre-1970,
                     pandas-ns overflow range, year 9999)
    --mode nulls     NULL in every nullable column (join keys, group
                     keys, timestamps, money, text, vector)

Exit 1 on any non-allowlisted DIVERGE.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
from collections import Counter

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BASE)
sys.path.insert(0, os.path.join(BASE, "tools"))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# name -> triaged reason; keyed per mode. A divergence listed here is a
# DOCUMENTED contract, not a bug — each entry must say why the
# difference is acceptable (and a pinning test should exist where the
# behavior is load-bearing). The r11 triage FIXED 14 real divergences
# (ewma day-bucket float division, zero-variance Pearson ÷0, seasonal
# pmod bucketing, empty-regime report rows, -0.0 money, NaN-unsafe audit
# oracle, NULL/empty-document asymmetries, hardcoded gram dim, JSON
# guards) and classified the rest into the families below.

# The Arrow kNN kernels exclude zero-norm / non-finite similarities
# (numpy NaN comparisons are false), while the SQL twins rank NULL/NaN
# sims NULLS-LAST into the top-k when candidates are scarce. Behavior on
# degenerate vectors is UNDEFINED by the fixed-dim finite-vector
# contract — embedding_health_audit (n_zero / n_nonfinite) is the audit
# a pipeline runs first, mirroring the ragged-crash contract.
_KNN_KERNEL = (
    "kNN kernels over zero-norm/non-finite vectors: undefined by the "
    "finite-vector contract; run embedding_health_audit first"
)
_KNN_FAMILY = [
    "knn_graph", "knn_pagerank", "knn_triangles", "knn_communities",
    "knn_assortativity", "knn_hubness", "knn_clustering_coeff",
    "knn_label_agreement", "community_conductance", "kcenter_sample",
]
_PPR = (
    "documented empty-seed guard: corpus smaller than the query stride "
    "raises on the engine (unit-tested ValueError) while the SQL twin "
    "returns the empty relation"
)
# Spark 4 ANSI casts NaN DOUBLE -> DECIMAL to NULL (the SUM skips it);
# DuckDB raises on the same cast. Finite out-of-range money still fails
# loudly on BOTH engines (the LOUD class). Corrupt NaN money therefore
# diverges one-sidedly in reporting queries — documented, with
# profile_table / the health audits as the upstream detectors.
_NAN_DECIMAL = (
    "Spark ANSI NaN->DECIMAL is NULL (sum-skipped); DuckDB raises — "
    "one-sided on NaN money/metric rows; finite overflow is LOUD on both"
)
_NAN_DECIMAL_FAMILY = [
    "notifications_render", "sales_opportunity", "bootstrap_ci_revenue",
    "cube_orders", "order_value_deciles", "pivot_order_revenue",
    "unpivot_order_revenue", "rfm_scores", "forecast_backtest",
    "revenue_mom_growth", "ltv_cohort_curve", "nation_revenue_share",
    "k_anonymity_audit", "l_diversity_audit", "order_value_gini",
]
# JVM vs utf8proc Unicode special casing: Java lowercases U+0130 to
# 'i'+U+0307 (two codepoints) where utf8proc yields plain 'i'; every
# token containing a special-casing codepoint then hashes/compares
# differently. ASCII (and the vast majority of codepoints) agree —
# unifying would mean reimplementing Unicode case folding in SQL.
_CASE_FOLD = (
    "JVM vs utf8proc Unicode case folding (e.g. U+0130): tokens differ "
    "by codepoints, so hashes/counts shift; ASCII corpora agree"
)
_CASE_FOLD_FAMILY = [
    "ams_f2_tokens", "boilerplate_removal", "chi2_terms",
    "chunk_documents", "hashed_features", "inverted_index",
    "misra_gries_summary", "segment_dedup", "simhash_fingerprints",
    "text_profile", "tfidf_top_terms", "top_tokens_per_lang",
    "typo_pairs",
]
# PySpark's client row deserializer (types.py fromInternal ->
# datetime.fromtimestamp) cannot represent timestamps at/beyond python
# datetime's year 1..9999 range; the PLAN executes (engine-side count()
# verified for all six), only collect() dies. timestamp_health_audit is
# the ingest-side detector.
_COLLECT_BOUNDARY = (
    "PySpark client-side timestamp materialization limit (python "
    "datetime year range); plan executes — run timestamp_health_audit "
    "first"
)
_DUCK_BUDGET = (
    "DuckDB twin exceeds the per-query budget on this fixture while the "
    "engine completes — an oracle-performance asymmetry, not an engine "
    "defect"
)

ALLOWED: dict[str, dict[str, str]] = {
    "fixed": {
        **{n: _KNN_KERNEL for n in _KNN_FAMILY},
        "ppr_related_vectors": _PPR,
        # grouped-map bucketed median vs quantile_cont differ by one ulp
        # when interpolating midpoints of sub-grid (1e-9-scale) inputs;
        # the integer-grid clean-data contract does not cover them
        "user_value_mad": (
            "1-ulp quantile-interpolation difference on sub-grid inputs"
        ),
    },
    "unicode": {
        **{n: _CASE_FOLD for n in _CASE_FOLD_FAMILY},
        **{n: _KNN_KERNEL for n in _KNN_FAMILY},
        "ppr_related_vectors": _PPR,
        # the engine's frame stub slices the UTF-8 PAYLOAD BYTES (honest
        # media semantics); the SQL twin models frames over CHARACTERS —
        # they agree on ASCII and diverge on multibyte text
        "multimodal_frame_sample": (
            "byte-sliced frames (engine) vs character-sliced twin on "
            "multibyte text"
        ),
        "subword_segment": _DUCK_BUDGET,
        "subword_fertility": _DUCK_BUDGET,
    },
    "numeric": {
        **{n: _KNN_KERNEL for n in _KNN_FAMILY},
        **{
            n: _KNN_KERNEL
            for n in (
                "dbscan_labels", "embedding_near_dup",
                "embedding_near_dup_pairs",
            )
        },
        **{n: _NAN_DECIMAL for n in _NAN_DECIMAL_FAMILY},
        "ppr_related_vectors": _PPR,
        # the engine folds EVERY changelog version through DECIMAL(18,4)
        # and loudly rejects a corrupt intermediate (money must never
        # pass silently); the oracle states the telescoped snapshot form,
        # which structurally never sees non-final versions
        "retraction_aggregate": (
            "engine folds all versions through DECIMAL (loud on corrupt "
            "intermediates); telescoped oracle only sees finals"
        ),
        "user_value_mad": (
            "1-ulp quantile-interpolation difference on sub-grid inputs"
        ),
        "winsorize_values": (
            "NaN clip-bound comparison semantics differ between engines "
            "(x > NaN); clip bounds from NaN data are undefined"
        ),
        "order_price_quantiles_approx": (
            "approximate-quantile sketches are engine-specific on "
            "non-finite inputs"
        ),
        # np.rint(NaN).astype(int64) in the quantized matmul warns and
        # yields platform sentinel values; the DuckDB twin fails loudly
        # on the same cast — both are outside the finite-vector contract
        "embedding_gram": (
            "quantized-grid matmul over non-finite components is "
            "undefined (finite-vector contract); run "
            "embedding_health_audit first"
        ),
    },
    "temporal": {
        **{n: _COLLECT_BOUNDARY for n in (
            "cdc_parse", "dormancy", "scd2_user_history",
            "point_in_time_user_state", "skyline_orders",
            "dynamic_sessions",
        )},
        **{n: _KNN_KERNEL for n in _KNN_FAMILY},
        "ppr_related_vectors": _PPR,
    },
    # NULL in every nullable column: a NULL embedding row is outside the
    # finite-vector contract exactly like a zero-norm/ragged one — the
    # Arrow kernels fail loudly where the SQL twins tolerate the NULL
    # (numpy cannot stack None among fixed-dim rows); n_null in
    # embedding_health_audit (added by this round's triage) is the
    # pre-flight. The r12 triage of this mode's first run FIXED 13 real
    # divergences (the audit's own NULL counters, quantize's
    # list_prepend 0-seed, NULL event-times in the hopping windows,
    # null-key drops in retraction/rfm mirroring the reference's
    # Kafka-Streams groupBy semantics, as-of NULL matches, survival/
    # bootstrap NULL lifetimes/days, the all-NULL path string, NULL
    # prices in the quantile sketch, and temperature_sample's driver
    # sort crash) and classified the rest below.
    "nulls": {
        **{n: _KNN_KERNEL for n in _KNN_FAMILY},
        **{
            n: _KNN_KERNEL
            for n in (
                "centroid_assign", "dbscan_labels", "diversity_sample",
                "embedding_gram", "embedding_near_dup",
                "embedding_near_dup_pairs", "ivf_ann_topk",
                "ivf_recall_eval", "kmeans_labels", "lsh_ann_topk",
                "semdedup", "silhouette_by_label",
            )
        },
        "ppr_related_vectors": _PPR,
        "user_value_mad": (
            "1-ulp quantile-interpolation difference on sub-grid inputs"
        ),
    },
}


def classify(s_err, d_err, scols=None, s_ms=None, n_s=None,
             dcols=None, d_ms=None, n_d=None):
    """Pure verdict for one query (unit-tested): LOUD when BOTH engines
    raise (symmetric loud failure is parity), PASS when both succeed and
    the sorted-column names, rowcounts, and exact-repr value multisets
    agree, DIVERGE (with detail) otherwise — including a ONE-sided
    error."""
    if s_err and d_err:
        return "LOUD", None
    if s_err or d_err:
        return "DIVERGE", f"one-sided error spark[{s_err}] duck[{d_err}]"
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return "DIVERGE", f"columns spark={scols} duck={dcols}"
    if n_s != n_d:
        return "DIVERGE", f"rowcount spark={n_s} duck={n_d}"
    if s_ms != d_ms:
        so = list((s_ms - d_ms).items())[:2]
        do = list((d_ms - s_ms).items())[:2]
        return "DIVERGE", f"values spark-only={so} duck-only={do}"
    return "PASS", None


def stale_allowlist(allowed, allowed_hits, loud, only):
    """Pure staleness verdict (unit-tested): an allowlist entry that no
    longer fires is stale — flag it so the contract list can't rot. A
    LOUD landing is NOT stale: both engines raising (e.g. a _DUCK_BUDGET
    entry whose DuckDB twin times out while the engine ALSO blows its
    budget on a slower host) still shows the asymmetry class exists —
    nothing regressed, so it must not exit 1. A subset run can't judge
    staleness at all."""
    if only:
        return []
    return sorted(set(allowed) - set(allowed_hits) - set(loud))


def _duck_with_timeout(con, sql: str, seconds: float):
    """fetch_arrow_table under a watchdog; con.interrupt() on timeout."""
    import threading

    timer = threading.Timer(seconds, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetch_arrow_table()
    finally:
        timer.cancel()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode",
                    choices=("fixed", "unicode", "numeric", "temporal",
                             "nulls"),
                    default="fixed")
    ap.add_argument("--timeout", type=float, default=120.0,
                    help="per-engine per-query wall budget (seconds); a "
                         "timeout is an 'error' for parity purposes, so "
                         "both-engines-quadratic reads LOUD, one-engine "
                         "reads DIVERGE")
    ap.add_argument("queries", nargs="*", help="optional subset")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    import degenerate_stress as degen
    from oracle_check import norm, row_key
    from cdc_stream_processor_spark.session import get_spark

    spark = get_spark("divergence-stress", shuffle_partitions=4)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = set(args.queries)
    allowed = ALLOWED[args.mode]

    diverged, loud, passed, allowed_hits = [], [], 0, []
    with tempfile.TemporaryDirectory(prefix="divsf_") as tmp:
        if args.mode == "unicode":
            degen.build_unicode_fixture(tmp)
        elif args.mode == "numeric":
            degen.build_numeric_fixture(tmp)
        elif args.mode == "temporal":
            degen.build_temporal_fixture(tmp)
        elif args.mode == "nulls":
            degen.build_nulls_fixture(tmp)
        else:
            degen.build_fixture(tmp, ragged_embeddings=False)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")

        for name, fn in qs.items():
            if only and name not in only:
                continue
            t0 = time.time()
            s_err = d_err = None
            try:
                sdf = fn(spark, tmp)
                scols = sorted(sdf.columns)
                srows = degen._run_with_timeout(
                    spark, lambda sp, d: sdf, tmp, name, args.timeout
                )
                spark.catalog.clearCache()
            except Exception as ex:  # noqa: BLE001 — audit, report everything
                s_err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:90]}"
            try:
                ddf = _duck_with_timeout(con, oracles[name], args.timeout)
            except Exception as ex:  # noqa: BLE001
                d_err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:90]}"

            if s_err and d_err:
                loud.append(name)
                print(f"LOUD {name}: spark[{s_err}] duck[{d_err}]")
                continue
            if s_err or d_err:
                _, detail = classify(s_err, d_err)
            else:
                dcols = sorted(ddf.column_names)
                s_order = [sdf.columns.index(c) for c in scols]
                s_ms = Counter(row_key(r, s_order) for r in srows)
                d_ms = Counter(
                    tuple(norm(r[c]) for c in dcols)
                    for r in ddf.to_pylist()
                )
                _, detail = classify(
                    None, None, scols, s_ms, len(srows), dcols, d_ms,
                    len(ddf),
                )
            if detail is None:
                passed += 1
                print(f"PASS {name} ({time.time()-t0:.1f}s)")
            elif name in allowed:
                allowed_hits.append(name)
                print(f"allow {name}: {detail[:160]}\n      reason: {allowed[name]}")
            else:
                diverged.append(name)
                print(f"DIVERGE {name}: {detail[:300]}")

    print(
        f"mode={args.mode}: pass={passed} loud={len(loud)} "
        f"allowed={len(allowed_hits)} DIVERGE={len(diverged)}"
    )
    if diverged:
        print("diverged:", sorted(diverged))
    stale = stale_allowlist(allowed, allowed_hits, loud, only)
    if stale:
        print("STALE allowlist entries (no longer diverge):", stale)
    return 1 if (diverged or stale) else 0


if __name__ == "__main__":
    sys.exit(main())
