"""Process-level memo for DETERMINISTIC derived DataFrames.

Several registered queries share an expensive deterministic sub-result on
the identical input (PQ training feeds both `pq_codes` and `pq_adc_topk`;
the LSH near-dup pair table feeds both `embedding_near_dup_pairs` and
`embedding_near_dup`).  Within one process (a bench run, a notebook
session) the second caller should reuse the first's materialization
instead of recomputing — a memo hit is bit-identical to a recompute
because every memoized builder is deterministic by the engine's oracle
contract.

Operators opt in with :func:`memoized`.  The key is the function, then
every argument with defaults applied; a DataFrame argument stands for its
session's application id (a localCheckpointed RDD dies with its session),
its exprId-normalized analyzed plan (stable across re-derivations of the
same logical query, distinct across different filters), and the (path,
length, modification time) of every file it reads.  Guarantee: a hit
happens only when the same function runs on the same logical plan over
the same files with the same parameters, so rewriting an input path
in-process rebuilds instead of returning the old result.

Entries are localCheckpointed (eager, lineage-free) and the store is a
small bounded FIFO — this is a latency cache for repeated in-process
calls, not a table cache.
"""

from __future__ import annotations

import functools
import inspect
import re
from collections.abc import Callable

from pyspark.sql import DataFrame

_MEMO: dict[tuple, tuple[DataFrame, ...]] = {}
# r12: 8 -> 16. Seven operators now memoize (LSH pairs, kNN graph, LPA,
# PQ train/codes, IVF, brute-force top-k, ER); with 8 slots a FIFO
# eviction could land between a value's first build and its second
# consumer in the alphabetical bench order. Entries are bounded derived
# tables (top-k lists, label vectors, pair tables), not corpus data.
_MEMO_MAX = 16


def plan_fingerprint(df: DataFrame) -> str:
    """Analyzed-plan string with exprIds (#NNN) stripped — stable across
    re-derivations of the same logical query — combined with the
    canonicalized-plan semanticHash.  The hash matters for LocalRelation
    inputs (createDataFrame): their plan STRING shows only the output
    schema, so two different literal datasets of the same shape would
    otherwise collide; semanticHash covers the relation's data."""
    plan = df._jdf.queryExecution().analyzed().toString()
    stripped = re.sub(r"#\d+", "#", plan)
    return f"{stripped}|sh={df.semanticHash()}"


def _input_files(df: DataFrame) -> tuple[tuple[str, int, int], ...]:
    """(path, length, modification time) of every file ``df`` reads, via
    the Hadoop FileSystem of each path's scheme.  The analyzed plan of a
    file scan does not change when its files are overwritten; this does."""
    spark = df.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for f in sorted(df.inputFiles()):
        path = Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        out.append((f, st.getLen(), st.getModificationTime()))
    return tuple(out)


def _arg_key(value: object) -> object:
    if isinstance(value, DataFrame):
        return (
            value.sparkSession.sparkContext.applicationId,
            plan_fingerprint(value),
            _input_files(value),
        )
    return value


def df_memo(
    key: tuple,
    builder: Callable[[], tuple[DataFrame, ...]],
) -> tuple[DataFrame, ...]:
    """Return the memoized (localCheckpointed) DataFrames for ``key``,
    building and materializing them on first call.  ``builder`` must be
    deterministic; it returns a tuple of DataFrames that are checkpointed
    as the memo value."""
    hit = _MEMO.get(key)
    if hit is not None:
        return hit
    out = tuple(df.localCheckpoint() for df in builder())
    while len(_MEMO) >= _MEMO_MAX:
        # Eviction drops the store's reference only; the checkpointed
        # blocks are freed by the JVM's ContextCleaner once the RDD is
        # garbage-collected.  Dataset.unpersist() would be a no-op here
        # (it routes through the CacheManager, which never registered a
        # localCheckpoint), and force-unpersisting the underlying RDD
        # would corrupt still-held caller references whose lineage the
        # checkpoint truncated — so GC is the only safe release path.
        _MEMO.pop(next(iter(_MEMO)))  # FIFO (dicts are insertion-ordered)
    _MEMO[key] = out
    return out


def memoized(fn: Callable) -> Callable:
    """Memoize a deterministic operator that returns one DataFrame or a
    tuple of DataFrames (the caller gets the same shape back).  Every
    argument must be a DataFrame or hashable; see the module docstring
    for the key.  The undecorated function stays at ``__wrapped__``."""
    sig = inspect.signature(fn)
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        key = (name, *(_arg_key(v) for v in bound.arguments.values()))

        def build() -> tuple[DataFrame, ...]:
            out = fn(*bound.args, **bound.kwargs)
            return out if isinstance(out, tuple) else (out,)

        # looked up by module-global name on every call, so a wrapper
        # installed over memo.df_memo (the benchmark's counter) sees it
        out = df_memo(key, build)
        return out[0] if len(out) == 1 else out

    return wrapper
