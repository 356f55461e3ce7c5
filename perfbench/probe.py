"""Measurement helpers shared by the workloads.

Everything here observes the program from outside: wall clocks around
calls into public functions, ``/proc`` for memory, and Spark's own status
store and streaming progress reports for engine counters.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

MIB = 1024.0 * 1024.0


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return pct(values, 50.0)


# --- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end.

    When disabled every call is a no-op, so the untraced run pays nothing.
    ``hook_s`` accumulates time spent in trace-only collection (status store
    reads, progress parsing); ``trace.overhead_frac`` is derived from it."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.hook_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> None:
        """Record a span observed after the fact (e.g. a trigger from a
        progress report)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "start": start,
                               "end": end, "parent": parent, "run": self.run_id})

    @contextmanager
    def hook(self):
        """Time trace-only work."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.hook_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0))
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# --- memory ------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    todo, seen = [root], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times, so forked Python workers that share their
    parent's pages are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler:
    """Samples the resident memory (PSS) summed over this process and all
    its descendants — the driver JVM and the Python workers — every
    ``interval`` s, and keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in process_tree(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / MIB


def foreign_spark_processes() -> int:
    """Count JVM or PySpark processes alive outside this process tree — load
    that would inflate the timings."""
    mine = set(process_tree(os.getpid()))
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            continue
        exe = os.path.basename(args[0])
        if exe == b"java" or (exe.startswith(b"python")
                              and {b"pyspark.daemon", b"pyspark.worker"} & set(args)):
            n += 1
    return n


# --- Spark status store ------------------------------------------------------

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1024, "MiB": MIB, "GiB": MIB * 1024, "TiB": MIB * MIB}
ENGINE_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
               "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s",
               "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
               "python.sent_mb", "python.recv_mb", "plan.exchanges")


def _size_total(text: str) -> float:
    """Bytes in the 'total' line of a size SQL metric value."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges in the final (AQE) physical plan description."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", tree))


class StatusReader:
    """Engine counters read from Spark's status stores, as deltas between
    calls to ``delta()``. One JSON round-trip per store per call."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        self._stage_args = (None, False, False,
                            spark.sparkContext._gateway.new_array(jvm.double, 0),
                            jvm.java.util.ArrayList())
        self._stages: set[tuple[int, int]] = set()
        self._execs: set[int] = set()
        self._jobs: set[int] = set()

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def cached_mb(self) -> float:
        """Memory plus disk held by cached RDDs right now."""
        rdds = self._json(self._app.rddList(True))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MIB

    def delta(self) -> dict[str, float]:
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        for j in self._json(self._app.jobsList(None)):
            if j["jobId"] not in self._jobs and j["status"] != "RUNNING":
                self._jobs.add(j["jobId"])
                out["spark.jobs"] += 1
        for s in self._json(self._app.stageList(*self._stage_args)):
            key = (s["stageId"], s["attemptId"])
            if key in self._stages or s["status"] in ("ACTIVE", "PENDING"):
                continue
            self._stages.add(key)
            if s["status"] == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            out["spark.failed_tasks"] += s.get("numFailedTasks", 0)
            out["spark.exec_run_s"] += s.get("executorRunTime", 0) / 1e3
            out["spark.exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            out["spark.gc_s"] += s.get("jvmGcTime", 0) / 1e3
            out["spark.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MIB
            out["spark.shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / MIB
            out["spark.spill_mb"] += (s.get("memoryBytesSpilled", 0)
                                      + s.get("diskBytesSpilled", 0)) / MIB
        for e in self._json(self._sql.executionsList()):
            eid = e["executionId"]
            if eid in self._execs or e.get("completionTime") is None:
                continue
            self._execs.add(eid)
            out["plan.exchanges"] += count_exchanges(e.get("physicalPlanDescription") or "")
            values = e.get("metricValues") or {}
            python = {m["accumulatorId"]: m["name"] for m in e.get("metrics", [])
                      if "Python workers" in m["name"]}
            for acc, name in python.items():
                v = values.get(str(acc))
                if v is None or name.startswith("time"):
                    continue
                key = "python.sent_mb" if "sent to" in name else "python.recv_mb"
                out[key] += _size_total(v) / MIB
        return out
