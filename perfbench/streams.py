"""The streaming workload over the five pipelines of
``cdc_stream_processor_spark.__main__.build_pipelines``.

``stream_paced`` runs the pipelines continuously while one generator thread
drops small envelope files, in event-time order, on a fixed open-loop
schedule. Its traced run adds a capacity probe (a few large pre-staged
files drained with ``availableNow``) and each layer alone on the same files.

Timing comes from outside the program: wall clocks around the calls, the
checkpoint's own source and commit logs (which file each batch read, and
when the batch committed), and ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from collections import Counter
from datetime import datetime

import numpy as np
import pyarrow as pa

import gen
import probe

PIPELINES = ("fraud", "high_value", "balance", "dormancy", "daily_spend")

# Feed density ~2 events/account/day so every pipeline emits (dormancy
# needs day-long gaps, fraud two debits in an hour).
EVENTS_PER_ACCOUNT_DAY = 2.0
# stream_paced: files per second, envelope rows per file, accounts. On 4
# cores a trigger of the five pipelines takes ~3 s whatever its size, so
# 5 files/s is sustained while 12.5 files/s builds a backlog.
PACED_RATE, PACED_FILE_ROWS, PACED_ACCOUNTS, PACED_MIN_FILES = 5.0, 50, 100, 100
# Capacity probe (traced runs): a few large files drained availableNow. At
# 60k rows about half the drain is per-row work; a 1.5k-row drain of the
# five pipelines already takes ~4.5 s.
DRAIN_ROWS, DRAIN_ACCOUNTS, DRAIN_DAYS, DRAIN_FILES = 60_000, 1000, 30, 4
WARM_ROWS = 1_500
CUT_JITTER = 0.3
# Files due in this first share of the schedule are left out of the latency
# figures: triggers are still JIT-warming there (the first half of a run
# measured ~10% slower than the second, with most of the run-to-run spread).
WARM_IN = 0.25

_UNIT_S = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _duration_s(text: str) -> int:
    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", text)
    if not m:
        raise ValueError(f"unrecognised duration {text!r}")
    return int(m.group(1)) * _UNIT_S[m.group(2)]


def app_config():
    """AppConfig carrying the batch twins' thresholds (``queries.py``),
    passed through the application's own environment names."""
    from cdc_stream_processor_spark import queries as Q
    from cdc_stream_processor_spark.__main__ import AppConfig

    os.environ.update({
        "ABBANK_HIGH_VALUE_THRESHOLD_NGN": repr(float(Q.HV_THRESHOLD)),
        "ABBANK_VELOCITY_MAX_TXN": str(int(Q.VELOCITY_MIN)),
        "ABBANK_VELOCITY_WINDOW_SEC": str(_duration_s(Q.VELOCITY_WINDOW)),
        "ABBANK_DORMANCY_DAYS": str(_duration_s(Q.DORMANCY_GAP) // 86400),
        "ABBANK_DAILY_SPEND_ALERT_NGN": repr(float(Q.DAILY_THRESHOLD)),
    })
    return AppConfig.from_env()


# --- inputs --------------------------------------------------------------------


def feed_table(rng: np.random.Generator, rows: int, accounts: int, days: int,
               schema: pa.Schema) -> pa.Table:
    """Envelopes for ``rows`` events plus the trailing flush envelope."""
    ev = gen.events(rng, rows, accounts, days)
    last_us = int(ev["ts"].cast(pa.int64())[-1].as_py())
    ev = pa.concat_tables([ev, gen.flush_event(last_us, rows)])
    return gen.envelopes(ev, schema)


def file_cuts(rng, table: pa.Table, n_files: int) -> np.ndarray:
    """Row offsets of ``n_files`` event-time-ordered files of the feed, then
    the flush row as its own last file."""
    return np.r_[gen.cut_points(rng, table.num_rows - 1, n_files, CUT_JITTER),
                 table.num_rows]


def stage_files(rng, table: pa.Table, n_files: int, out_dir: str) -> list[str]:
    return gen.write_slices(table, file_cuts(rng, table, n_files), out_dir)


# --- running the app ---------------------------------------------------------------


def start_pipelines(spark, cfg, src_dir: str, accounts, ckpt: str,
                    available_now: bool) -> dict:
    from cdc_stream_processor_spark.__main__ import build_pipelines
    from cdc_stream_processor_spark.streaming import pipelines as SP

    envelopes = SP.read_file_envelopes(spark, src_dir)
    flows = build_pipelines(envelopes, accounts, cfg)
    return {
        name: SP.start_pipeline(df, name, ckpt, output_mode=mode,
                                sink_format="memory",
                                trigger_available_now=available_now)
        for name, (df, mode) in flows.items()
    }


def stop_all(queries: dict) -> None:
    for q in queries.values():
        try:
            q.stop()
        except Exception:  # a query that already died is stopped
            pass


def query_error(q) -> str | None:
    try:
        e = q.exception()
    except Exception as err:  # the query handle itself is gone
        return repr(err)
    return None if e is None else str(e).splitlines()[0][:300]


def commit_times(ckpt_q: str) -> dict[str, float]:
    """File name -> time the batch that read it was committed, read from the
    query's checkpoint (source log entries carry their batch id; the commit
    log file of a batch is written when it commits)."""
    src = os.path.join(ckpt_q, "sources", "0")
    by_batch: dict[int, list[str]] = {}
    if os.path.isdir(src):
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
            for line in lines:
                e = json.loads(line)
                by_batch.setdefault(int(e["batchId"]), []).append(
                    e["path"].rsplit("/", 1)[-1])
    out: dict[str, float] = {}
    for b, names in by_batch.items():
        c = os.path.join(ckpt_q, "commits", str(b))
        if os.path.exists(c):
            t = os.stat(c).st_mtime
            for n in names:
                out[n] = t
    return out


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _iso_s(text: str) -> float:
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


def sink_rows(spark, name: str) -> list:
    return spark.table(name).collect()


# --- reference check ---------------------------------------------------------------


def _strip(js: str) -> str:
    v = json.loads(js)
    v.pop("notificationId", None)
    v.pop("generatedAt", None)
    return json.dumps(v, sort_keys=True)


def expected_outputs(spark, cfg, feed_dir: str, accounts) -> dict:
    """The batch twins over the same envelope files, in the comparable form
    of each pipeline's boundary-invariant rule."""
    from pyspark.sql import functions as F

    from cdc_stream_processor_spark import cdc, schemas
    from cdc_stream_processor_spark.functions.scalar import lagos_date
    from cdc_stream_processor_spark.operators import pipelines as P
    from cdc_stream_processor_spark.streaming import pipelines as SP

    txns = cdc.parse_transactions(
        spark.read.schema(schemas.TRANSACTION_ENVELOPE).parquet(feed_dir)
    ).filter(F.col("account_id") != gen.FLUSH_ACCOUNT)
    fraud = P.transaction_velocity(
        txns, window=f"{cfg.velocity_window_seconds} seconds",
        max_txns=cfg.velocity_max_txns,
    ).select(F.col("account_id").cast("string"),
             F.unix_millis("window_start").cast("string"), "txn_count")
    daily = P.daily_spend(txns, threshold=cfg.daily_spend_ngn).select(
        F.col("account_id").cast("string"),
        lagos_date(F.col("window_start")).cast("string"), "total_debit")
    balance = P.balance_reconciliation_batch(txns).select(
        F.col("account_id").cast("string"), "severity",
        F.col("discrepancy").cast("string"), F.col("balance_after").cast("string"))
    hv = SP.high_value_notifications(txns, accounts, threshold=cfg.high_value_ngn)
    dorm = SP.dormancy_notifications(txns, gap=f"{cfg.dormancy_days} days")
    return {
        "fraud": {(r[0], r[1]): int(r[2]) for r in fraud.collect()},
        "daily_spend": {(r[0], r[1]): float(r[2]) for r in daily.collect()},
        "balance": Counter(tuple(r) for r in balance.collect()),
        "high_value": Counter((r.key, _strip(r.value)) for r in hv.collect()),
        "dormancy": Counter((r.key, _strip(r.value)) for r in dorm.collect()),
    }


def observed(name: str, rows: list):
    """A pipeline's sink rows in the form ``expected_outputs`` uses: the
    highest count per (account, window) for fraud, the highest total per
    (account, date) for daily spend, exact multisets for the others. The
    flush account is left out, as in ``expected_outputs``."""
    rows = [r for r in rows if r.key != str(gen.FLUSH_ACCOUNT)]
    if name in ("fraud", "daily_spend"):
        field, cast, sub = (("transactionCount", int, "windowStartMs")
                            if name == "fraud" else ("totalDebit", float, "date"))
        best: dict = {}
        for r in rows:
            m = json.loads(r.value)["metadata"]
            k = (r.key, m[sub])
            best[k] = max(best.get(k, cast(m[field])), cast(m[field]))
        return best
    if name == "balance":
        out = Counter()
        for r in rows:
            v = json.loads(r.value)
            m = v["metadata"]
            out[(r.key, v["severity"], m["discrepancy"], m["balanceAfter"])] += 1
        return out
    return Counter((r.key, _strip(r.value)) for r in rows)


# --- per-layer metrics from progress reports -------------------------------------


def pipeline_metrics(name: str, progs: list[dict]) -> dict[str, float]:
    """Per-pipeline layer metrics, summed over the executed batches; state
    size is the peak over batches."""
    done = [p for p in progs if "addBatch" in p.get("durationMs", {})]
    dur = [p["durationMs"] for p in done]
    ops = [o for p in done for o in p.get("stateOperators", [])]

    def peak(field: str) -> float:
        return max((sum(o.get(field, 0) for o in p.get("stateOperators", []))
                    for p in done), default=0)

    pre = f"stream.{name}."
    return {
        pre + "batches": float(len(done)),
        pre + "trigger_p50_ms": probe.median([d.get("triggerExecution", 0) for d in dur])
        if dur else 0.0,
        pre + "plan_ms": sum(d.get("queryPlanning", 0) for d in dur),
        pre + "log_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        pre + "source_ms": sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur),
        pre + "exec_ms": sum(d.get("addBatch", 0) for d in dur),
        pre + "state_rows": float(peak("numRowsTotal")),
        pre + "state_mb": peak("memoryUsedBytes") / probe.MIB,
        pre + "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        pre + "late_rows": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        pre + "out_rows": sum(max(p.get("sink", {}).get("numOutputRows", 0), 0) for p in done),
    }


def watermark_lag_ms(progs: list[dict]) -> float:
    """Largest gap between the newest event time a batch saw and the
    watermark it ran under (event-time ms)."""
    lag = 0.0
    for p in progs:
        et = p.get("eventTime", {})
        # the first batch runs before any watermark exists (epoch 0)
        if "max" in et and "watermark" in et and _iso_s(et["watermark"]) > 0:
            lag = max(lag, (_iso_s(et["max"]) - _iso_s(et["watermark"])) * 1e3)
    return lag


def trace_triggers(tracer, progs_by_q: dict[str, list[dict]], parent) -> None:
    for name, progs in progs_by_q.items():
        for p in progs:
            d = p.get("durationMs", {})
            if "triggerExecution" in d:
                start = _iso_s(p["timestamp"])
                tracer.add(f"stream.{name}.trigger", start,
                           start + d["triggerExecution"] / 1e3, parent)


# --- isolated layers ---------------------------------------------------------------


def isolated_layers(spark, cfg, feed_dir: str, accounts, tracer) -> dict[str, float]:
    """Each layer alone on the staged files as static frames: read, parse,
    each pipeline's ``operators/pipelines`` twin, and the
    ``streaming/pipelines`` notification builders (their self time: the
    builder's time minus the time of the operator it wraps). The balance
    builder wraps ``applyInPandasWithState``, which runs only in a stream,
    so ``layer.render_s`` covers the other four."""
    from cdc_stream_processor_spark import cdc, schemas
    from cdc_stream_processor_spark.operators import pipelines as P
    from cdc_stream_processor_spark.streaming import pipelines as SP

    def timed(name: str, df) -> float:
        with tracer.span(name):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    out: dict[str, float] = {}
    env = spark.read.schema(schemas.TRANSACTION_ENVELOPE).parquet(feed_dir).cache()
    out["layer.read_s"] = timed("layer.read", env)
    txns = cdc.parse_transactions(env).cache()
    out["layer.parse_s"] = timed("layer.parse", txns)
    window = f"{cfg.velocity_window_seconds} seconds"
    gap = f"{cfg.dormancy_days} days"
    twins = {
        "fraud": (P.transaction_velocity(txns, window=window, max_txns=cfg.velocity_max_txns),
                  SP.fraud_velocity_notifications(txns, window=window,
                                                  max_txns=cfg.velocity_max_txns)),
        "high_value": (P.high_value_alerts(txns, accounts, threshold=cfg.high_value_ngn),
                       SP.high_value_notifications(txns, accounts,
                                                   threshold=cfg.high_value_ngn)),
        "balance": (P.balance_reconciliation_batch(txns), None),
        "dormancy": (P.dormancy_candidates(txns, gap=gap),
                     SP.dormancy_notifications(txns, gap=gap)),
        "daily_spend": (P.daily_spend(txns, threshold=cfg.daily_spend_ngn),
                        SP.daily_spend_notifications(txns, threshold=cfg.daily_spend_ngn)),
    }
    render = 0.0
    for name, (op, note) in twins.items():
        t_op = timed(f"layer.op.{name}", op)
        out[f"layer.op.{name}_s"] = t_op
        if note is not None:
            render += max(0.0, timed(f"layer.render.{name}", note) - t_op)
    out["layer.render_s"] = render
    txns.unpersist()
    env.unpersist()
    return out


# --- the workload ------------------------------------------------------------------


class StreamPaced:
    """``stream_paced``: open-loop file drops into the five running pipelines.

    Operations are (pipeline, file) pairs. An operation's latency runs from
    when the file was due on the schedule until that pipeline committed the
    batch that read it: the wait its alert sees. The traced run also
    reports the wait until all five pipelines committed a file."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 scale: float = 1.0) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.scale = scale
        self.cfg = app_config()
        self.schema = gen.envelope_schema()
        self.ops = 0
        self.failures: Counter = Counter()
        self.layer: dict[str, float] = {}
        self.probe_s = 0.0

    def stage(self) -> None:
        n_files = max(PACED_MIN_FILES, int(round(PACED_RATE * self.seconds)))
        file_rows = max(5, int(PACED_FILE_ROWS * self.scale))
        rows = n_files * file_rows
        days = max(2, int(round(rows / (PACED_ACCOUNTS * EVENTS_PER_ACCOUNT_DAY))))
        rng = np.random.default_rng([self.seed, 4])
        table = feed_table(rng, rows, PACED_ACCOUNTS, days, self.schema)
        cuts = file_cuts(rng, table, n_files)
        self.slices = [table.slice(cuts[i], cuts[i + 1] - cuts[i])
                       for i in range(len(cuts) - 1)]
        self.rows = table.num_rows
        # the same files, staged for the reference check
        self.feed_dir = os.path.join(self.work, "feed")
        shutil.rmtree(self.feed_dir, ignore_errors=True)
        gen.write_slices(table, cuts, self.feed_dir)

    def setup(self) -> None:
        from cdc_stream_processor_spark import cdc
        from cdc_stream_processor_spark.sources import cdc_sim

        path = os.path.join(self.work, "customer.parquet")
        gen.write_table(gen.customer(np.random.default_rng([self.seed, 1]), DRAIN_ACCOUNTS), path)
        self.accounts = cdc.parse_accounts(
            cdc_sim.accounts_envelopes_from_customers(self.spark.read.parquet(path))
        ).cache()
        # One small availableNow drain: JVM code paths, codegen and the
        # Python workers of the balance fold are loaded before timing.
        rng = np.random.default_rng([self.seed, 2])
        d = os.path.join(self.work, "warm")
        stage_files(rng, feed_table(rng, WARM_ROWS, 50, 15, self.schema), 1, d)
        self._drain(d, os.path.join(self.work, "ckpt-warm"))

    def _drain(self, src: str, ckpt: str) -> dict:
        qs = start_pipelines(self.spark, self.cfg, src, self.accounts, ckpt, True)
        for q in qs.values():
            q.awaitTermination(150)
        stop_all(qs)
        return qs

    def _check(self, feed_dir: str, ckpt: str, files: list[str], errors: dict) -> None:
        """Count each (pipeline, file) operation, failed if the pipeline
        raised, the file's batch never committed, or the sink disagrees with
        the batch twins."""
        expected = expected_outputs(self.spark, self.cfg, feed_dir, self.accounts)
        for p in PIPELINES:
            committed = commit_times(os.path.join(ckpt, p))
            cause = f"error: {errors[p]}" if errors[p] else None
            if cause is None and observed(p, sink_rows(self.spark, p)) != expected[p]:
                cause = "mismatch"
            for f in files:
                self.ops += 1
                if cause is None and f not in committed:
                    self.failures[f"{p}: not committed"] += 1
                elif cause:
                    self.failures[f"{p}: {cause}"] += 1

    def _generate(self, src: str, t0: float, rate: float, drops: list) -> None:
        """Open-loop generator: file i is due at t0 + i / rate, whatever the
        pipelines are doing."""
        import pyarrow.parquet as pq

        for i, tbl in enumerate(self.slices):
            due = t0 + i / rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"part-{i:05d}.parquet"
            tmp = os.path.join(src, "." + name)
            pq.write_table(tbl, tmp, compression="snappy")
            os.rename(tmp, os.path.join(src, name))
            drops.append((name, due, time.time()))

    def run(self) -> dict[str, float]:
        src = os.path.join(self.work, "src")
        os.makedirs(src, exist_ok=True)
        ckpt = os.path.join(self.work, "ckpt-paced")
        rate = (len(self.slices) - 1) / self.seconds
        drops: list = []
        with self.tracer.span("paced.run") as sp:
            qs = start_pipelines(self.spark, self.cfg, src, self.accounts, ckpt, False)
            gen_thread = threading.Thread(
                target=self._generate, args=(src, time.time() + 0.5, rate, drops),
                name="generator")
            gen_thread.start()
            gen_thread.join(self.seconds + 60)
            # wait until every pipeline has committed all it can see,
            # including the batch the flush file's watermark releases
            waiters = [threading.Thread(target=q.processAllAvailable, daemon=True)
                       for q in qs.values() if query_error(q) is None]
            for w in waiters:
                w.start()
            deadline = time.time() + 60
            for w in waiters:
                w.join(max(0.1, deadline - time.time()))
        errors = {p: query_error(q) for p, q in qs.items()}
        progs = {p: progress_of(q) for p, q in qs.items()}
        stop_all(qs)
        if self.tracer.enabled:
            with self.tracer.hook():
                self.layer.update(self.reader.delta())
        names = [d[0] for d in drops]
        self._check(self.feed_dir, ckpt, names, errors)
        commits = {p: commit_times(os.path.join(ckpt, p)) for p in PIPELINES}
        inf = float("inf")
        done_at = {n: max(commits[p].get(n, inf) for p in PIPELINES) for n in names}
        real = drops[:-1]  # the last file is the flush row
        file_lat = [done_at[n] - due for n, due, _ in real if done_at[n] != inf]
        half = len(file_lat) // 2
        if half:
            # a rate the pipelines sustain keeps the second half no slower
            self.latency_halves_ms = [probe.median(file_lat[:half]) * 1e3,
                                      probe.median(file_lat[half:]) * 1e3]
        # latency of an operation: due on the schedule -> its pipeline commits
        counted = real[int(len(real) * WARM_IN):]
        lat = [commits[p][n] - due for n, due, _ in counted for p in PIPELINES
               if n in commits[p]]
        file_lat = [done_at[n] - due for n, due, _ in counted if done_at[n] != inf]
        last = max((t for t in done_at.values() if t != inf), default=time.time())
        span = last - drops[0][1]
        if self.tracer.enabled:
            with self.tracer.hook():
                trace_triggers(self.tracer, progs, sp["id"])
                for p in PIPELINES:
                    self.layer.update(pipeline_metrics(p, progs[p]))
                self.layer["stream.watermark_lag_ms_max"] = max(
                    watermark_lag_ms(v) for v in progs.values())
                backlog = [sum(1 for m, _, _ in drops[: j + 1] if done_at[m] > t)
                           for j, (_, _, t) in enumerate(drops)]
                self.layer["source.backlog_files_max"] = float(max(backlog))
                self.layer["source.backlog_files_end"] = float(backlog[-2])
                self.layer["gen.late_ms_p99"] = probe.pct(
                    [(a - due) * 1e3 for _, due, a in drops], 99)
                if file_lat:
                    self.layer["stream.all_committed_p50_ms"] = probe.median(file_lat) * 1e3
                    self.layer["stream.all_committed_p90_ms"] = probe.pct(file_lat, 90) * 1e3
            t0 = time.perf_counter()
            self.layer.update(isolated_layers(self.spark, self.cfg, self.feed_dir,
                                              self.accounts, self.tracer))
            self._drain_probe()
            self.probe_s = time.perf_counter() - t0
        self.units = 1
        self.samples = len(lat)
        return {
            "wall_s": span,
            "rows_per_s": self.rows / span,
            "latency_p50_ms": probe.median(lat) * 1e3 if lat else span * 1e3,
            "latency_p90_ms": probe.pct(lat, 90) * 1e3 if lat else span * 1e3,
        }

    def _drain_probe(self) -> None:
        """Capacity: the five pipelines drain a pre-staged large feed with
        one availableNow query each; outputs are checked like the paced
        ones."""
        rng = np.random.default_rng([self.seed, 3])
        rows = max(1000, int(DRAIN_ROWS * self.scale))
        table = feed_table(rng, rows, DRAIN_ACCOUNTS, DRAIN_DAYS, self.schema)
        d = os.path.join(self.work, "drain")
        files = [os.path.basename(f) for f in stage_files(rng, table, DRAIN_FILES, d)]
        ckpt = os.path.join(self.work, "ckpt-drain")
        with self.tracer.span("stream.drain"):
            t0 = time.perf_counter()
            qs = self._drain(d, ckpt)
            wall = time.perf_counter() - t0
        self._check(d, ckpt, files, {p: query_error(q) for p, q in qs.items()})
        self.layer["stream.drain_s"] = wall
        self.layer["stream.drain_rows_per_s"] = table.num_rows / wall
