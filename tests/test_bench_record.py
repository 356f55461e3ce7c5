"""bench.py without Spark: the timing routine, the stdout summary line and
the ambient-load scan that every bench record carries."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402
from cdc_stream_processor_spark.operators import memo  # noqa: E402


def test_measure_runs_memo_cold_and_returns_first_and_best(monkeypatch):
    """Every timed run starts with an empty process memo, so a memoized
    kernel is rebuilt inside each run and best-of-N is as memo-cold as
    run 1; measure() returns (first run, fastest run)."""
    seen: list[int] = []

    class _Sink:  # stands in for df.write.format("noop").mode(...).save()
        def __getattr__(self, _name):
            return self

        def __call__(self, *_args):
            return self

    def fn(spark, sf_dir):
        seen.append(len(memo._MEMO))
        memo._MEMO[("kernel", len(seen))] = ()  # what a memoized build leaves
        return _Sink()

    clock = iter([0.0, 3.0, 10.0, 11.0, 20.0, 22.0])  # runs of 3, 1, 2 s
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(clock))
    monkeypatch.setattr(memo, "_MEMO", {("stale",): ()})
    assert bench.measure(None, fn, "sf", 3) == (3.0, 1.0)
    assert seen == [0, 0, 0]


def test_quiesce_check_records_load_class_and_tree_only():
    """The ambient-load evidence is pid + load class + own-tree marker
    ONLY — never the command line or executable name: an unrelated
    wrapper process's cmdline can embed arbitrary environment detail
    that doesn't belong in a committed artifact (r9). The own-tree /
    foreign marker (r10, from the ppid chain) distinguishes the
    harness's own wrapper stack from a genuinely competing job so the
    "quiet box" claim stays verifiable without recording cmdlines.

    Foreign processes MAY legitimately exist while pytest runs — the
    driver's box hosts unrelated Spark work (r12 verdict: 34 foreign
    JVMs failed the old ``all own-tree`` assertion). The unit test
    therefore asserts only what is machine-independent: the entry
    format, and that any matched process in THIS test's own ancestor
    chain classifies own-tree. The quiet-box claim itself lives in the
    bench record's ``ambient_processes_at_start``, adjudicated per
    round — not here."""
    import re

    out = bench._quiesce_check()
    for entry in out:
        assert re.fullmatch(
            r"pid \d+: \((jvm|spark-python), (own-tree|foreign)\)", entry
        ), entry
    # walk this test's own ppid chain (same walk _quiesce_check uses)
    my_ancestry, cur, hops = {os.getpid()}, os.getpid(), 0
    while cur > 1 and hops < 64:
        try:
            with open(f"/proc/{cur}/stat") as f:
                cur = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
        hops += 1
        if cur > 1:
            my_ancestry.add(cur)
    # any matched jvm/spark process that IS one of our own ancestors
    # (a pytest wrapper, a supervising harness) must classify own-tree;
    # processes outside the chain are allowed either class — asserting
    # a globally quiet box made the test fail on any busy machine (r12)
    for entry in out:
        pid = int(re.match(r"pid (\d+):", entry).group(1))
        if pid in my_ancestry:
            assert "own-tree" in entry, entry


def test_compact_summary_is_driver_tail_sized():
    """bench.py's LAST stdout line must be standalone JSON under 2000
    chars (a 2000-char stdout tail is all that survives of the first line,
    which carries every query's timing), with both headline totals."""
    record = {
        "metric": "engine_total_query_time",
        "value": 170.5,
        "value_run1": 240.25,
        "unit": "sec",
        "queries": {f"q{i:03d}": 0.7 for i in range(243)},
        "sf": 0.1,
        "config": {"runs": 2},
    }
    ambient = ["pid 1: (jvm, own-tree)", "pid 2: (jvm, foreign)"]
    line = json.dumps(bench._compact_summary(record, ambient))
    assert len(line) < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 170.5 and parsed["value_run1"] == 240.25
    assert parsed["n_queries"] == 243
    assert parsed["ambient"] == 2 and parsed["ambient_foreign"] == 1
    assert parsed["full_record"] == "bench_full.json"
