"""``batch_mix``: memo-cold passes over a fixed sample of registered batch
queries, each checked against its DuckDB oracle.

The mix keeps the JVM-only CDC twins and TPC-H queries as the control,
and the Arrow/checkpoint queries whose memo producer and consumer run
back to back (``pq_codes`` then ``pq_adc_topk``, ``knn_graph`` then
``knn_pagerank``, ``embedding_near_dup_pairs`` then ``embedding_near_dup``),
plus one persist site (``user_similarity``). Python workers,
``operators/memo`` and the cached tables do their work here and none in the
streams.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter
from datetime import datetime, timezone

import numpy as np

import gen
import probe

MIX = (
    # CDC twins (JVM only)
    "cdc_parse", "txn_velocity", "balance_recon",
    # TPC-H (JVM only)
    "custdist", "market_share",
    # memo producer -> consumer pairs (Arrow stages, localCheckpoint)
    "pq_codes", "pq_adc_topk",
    "knn_graph", "knn_pagerank",
    "embedding_near_dup_pairs", "embedding_near_dup",
    # key-partitioned persist site
    "user_similarity",
)
SCALE = 1.0  # gen.batch_tables scale: the sf0.01 row counts


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return str(v)


def digest(table) -> tuple:
    """Order-insensitive value multiset of an Arrow table, columns by
    case-folded name (the rule of ``tools/oracle_check.py``)."""
    cols = sorted(table.column_names, key=str.lower)
    rows = table.select(cols).to_pylist()
    return (tuple(c.lower() for c in cols),
            Counter(tuple(_norm(r[c]) for c in cols) for r in rows))


def memo_module():
    try:
        from cdc_stream_processor_spark.operators import memo
    except ImportError:
        return None
    return memo


class MemoCounter:
    """Wraps ``memo.df_memo`` wherever the package imported it, counting
    calls, builds (calls that ran their builder) and build time."""

    def __init__(self) -> None:
        self.calls = 0
        self.builds = 0
        self.build_s = 0.0
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        memo = memo_module()
        if memo is None:
            return
        orig = memo.df_memo

        def df_memo(key, builder):
            self.calls += 1
            built = []

            def counted():
                built.append(True)
                return builder()

            t0 = time.perf_counter()
            out = orig(key, counted)
            if built:
                self.builds += 1
                self.build_s += time.perf_counter() - t0
            return out

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("cdc_stream_processor_spark")
                    and getattr(mod, "df_memo", None) is orig):
                self._patched.append((mod, orig))
                mod.df_memo = df_memo

    def uninstall(self) -> None:
        for mod, orig in self._patched:
            mod.df_memo = orig
        self._patched.clear()


def clear_memo() -> None:
    """Empty the process memo so every pass starts memo-cold."""
    store = getattr(memo_module(), "_MEMO", None)
    if isinstance(store, dict):
        store.clear()


class BatchMix:
    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 scale: float = 1.0) -> None:
        self.spark = spark
        self.scale = scale
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops = 0
        self.failures: Counter = Counter()
        self.layer: dict[str, float] = {}
        self.query_s: dict[str, float] = {}

    def stage(self) -> None:
        self.data = os.path.join(self.work, "tables")
        rng = np.random.default_rng([self.seed, 5])
        self.table_rows = gen.write_batch_tables(rng, SCALE * self.scale, self.data)
        self.rows = sum(self.table_rows.values())

    def setup(self) -> None:
        """Load the engine's common paths once — parquet scan, shuffle,
        window, Arrow round trip to the Python workers — on a query the mix
        does not contain, so the timed pass measures the queries rather than
        first-use start-up."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        import __spark_entry__ as entry

        ev = self.spark.read.parquet(os.path.join(self.data, "events.parquet"))
        w = Window.partitionBy("user_id").orderBy("ts")
        ev.withColumn("n", F.row_number().over(w)).groupBy("event_type") \
            .agg(F.sum("value").alias("value")) \
            .mapInArrow(lambda batches: batches, "event_type string, value double") \
            .toArrow()
        self.fns = {n: entry.queries()[n] for n in MIX}
        self.oracles = entry.oracle_sql()

    def _oracle_digests(self) -> dict[str, tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return {n: digest(con.execute(self.oracles[n]).fetch_arrow_table())
                    for n in MIX}
        finally:
            con.close()

    def run(self) -> dict[str, float]:
        spark, tracer = self.spark, self.tracer
        memo = MemoCounter()
        cache_rdds = cache_mb = build_s = exec_s = 0.0
        if tracer.enabled:
            memo.install()
        walls, first = [], []
        outputs: list[tuple[str, object]] = []
        t_end = time.time() + self.seconds
        passes = 0
        try:
            while passes == 0 or time.time() < t_end:
                clear_memo()
                spark.catalog.clearCache()
                with tracer.span("batch.pass"):
                    pass_s = 0.0
                    for name in MIX:
                        self.ops += 1
                        with tracer.span(f"query.{name}"):
                            t0 = time.perf_counter()
                            try:
                                with tracer.span("plan.build"):
                                    df = self.fns[name](spark, self.data)
                                t1 = time.perf_counter()
                                with tracer.span("plan.exec"):
                                    out = df.toArrow()
                            except Exception as e:  # an operation that raises fails
                                self.failures[f"{name}: error: {type(e).__name__}"] += 1
                                continue
                            t2 = time.perf_counter()
                        pass_s += t2 - t0
                        if passes == 0:
                            first.append(t2 - t0)
                            self.query_s[name] = t2 - t0
                        build_s += t1 - t0
                        exec_s += t2 - t1
                        outputs.append((name, out))
                        if tracer.enabled:
                            with tracer.hook():
                                rdds = spark.sparkContext._jsc.getPersistentRDDs()
                                cache_rdds += rdds.size()
                                cache_mb += self.reader.cached_mb()
                        spark.catalog.clearCache()
                walls.append(pass_s)
                passes += 1
        finally:
            memo.uninstall()
        if tracer.enabled:
            with tracer.hook():
                self.layer.update({k: v / passes for k, v in self.reader.delta().items()})
        expected = self._oracle_digests()
        for name, out in outputs:
            if digest(out) != expected[name]:
                self.failures[f"{name}: mismatch"] += 1
        wall = walls[0]
        self.warm_passes = walls[1:]
        self.units = passes
        if tracer.enabled:
            n = float(passes)
            self.layer.update({
                "plan.build_s": build_s / n,
                "plan.exec_s": exec_s / n,
                "memo.calls": memo.calls / n,
                "memo.builds": memo.builds / n,
                "memo.hit_ratio": (1 - memo.builds / memo.calls) if memo.calls else 0.0,
                "memo.build_s": memo.build_s / n,
                "cache.rdds_left": cache_rdds / n,
                "cache.mb_left": cache_mb / n,
            })
        self.samples = len(first)
        # End-to-end figures come from the first pass: memo-cold in a fresh
        # process. Passes the window still has room for are only recorded,
        # so the metric does not depend on how many fit.
        return {
            "wall_s": wall,
            "rows_per_s": self.rows / wall,
            "latency_p50_ms": probe.median(first) * 1e3,
            "latency_p90_ms": probe.pct(first, 90) * 1e3,
        }
