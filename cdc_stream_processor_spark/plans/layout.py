"""Physical-layout utilities: partition-count hygiene.

A small parquet file scans as ONE partition (files.maxPartitionBytes), so a
CPU-bound per-row operator (hashing, array folds, Pandas UDFs) would run on a
single core regardless of cluster size. `ensure_parallelism` round-robins the
input across the default parallelism when — and only when — the scan is
under-partitioned; at real scale (thousands of input splits) it's a no-op, so
the same operator code is correct at sf0.001 and at 100 TB.

`cache_by_key` is the one place that decides how a shared intermediate is
laid out before it is cached for consumers keyed on the same columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the current plan has fewer partitions than the
    session's default parallelism.

    Streaming DataFrames have no driver-side partition count (``df.rdd``
    would throw) — their parallelism comes from the source + shuffle confs,
    so they pass through unchanged.

    The under-partitioned check uses ``df.inputFiles()`` (analyzed-plan
    metadata, ~ms) rather than ``df.rdd.getNumPartitions()`` (forces full
    physical planning, ~1 s per fresh plan — measured; it was the dominant
    planning cost when this sat on a dozen query heads). A scan backed by
    ≥ target non-tiny files yields ≥ target splits (tiny-file packing can
    coalesce below that, but in that regime the extra repartition is cheap
    anyway), so at real scale (thousands of input files) this is a
    metadata no-op. The RDD probe
    remains only as the fallback for file-less plans (in-memory test DFs).
    """
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if files:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cache_by_key(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` into ``spark.sql.shuffle.partitions``
    partitions and persist it.

    Consumers that group or join on the keys (or on a superset of them)
    then read the cached HashPartitioning without an Exchange: one shuffle
    at build replaces one per consumer, and exprId re-aliasing in
    self-joins cannot defeat it the way it defeats ReuseExchange.  The
    count follows the session's shuffle setting, the same count the
    consumers' own exchanges would use, not the core count."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys).persist()


def write_date_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout — the 100 TB table convention:
    partition by low-cardinality date/region columns so per-partition
    predicates prune entire directories at scan time (Catalyst partition
    pruning shows in .explain as PartitionFilters)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


MORTON_BITS = 16  # per-dimension key width; 2 dims → 32-bit interleaved key


def morton_key(a: Column, b: Column, bits: int = MORTON_BITS) -> Column:
    """Interleave the low `bits` bits of two non-negative integer columns
    into one long (Morton / Z-order curve key): bit i of `a` lands at
    position 2i, bit i of `b` at 2i+1.

    Pure JVM bitwise expression tree (no UDF, stays in whole-stage
    codegen). Sorting or range-partitioning by this key clusters rows that
    are close in BOTH dimensions, so per-file min/max statistics become
    selective for predicates on either column — the layout trick behind
    Delta/Iceberg Z-ORDER, expressed with stock Spark operators.
    """
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return key


def morton_key_sql(a: str, b: str, bits: int = MORTON_BITS) -> str:
    """DuckDB SQL twin of :func:`morton_key` — same expression tree from
    the same constants, so the key is oracle-checkable bit-for-bit."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    key: Column,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered along a space-filling-curve key:
    repartitionByRange on the key (one range-exchange; Spark samples the
    key distribution so files get balanced row counts) + sortWithinPartitions
    so row groups inside each file are also key-ordered. Downstream scans
    with predicates on EITHER interleaved dimension prune most files on
    footer min/max alone — asserted in tests over the actual written files.
    """
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table write: pre-shuffles data into n_buckets files per the
    bucket columns so later equi-joins / aggregations on those columns read
    co-located data and skip the shuffle entirely (SortMergeJoin with no
    Exchange — asserted in tests). This is the pay-once-shuffle-many-times
    layout for the big fact tables at 100 TB; choose n_buckets so one bucket
    of the largest table fits an executor core's memory."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


class AuditFailure(RuntimeError):
    """A write-audit-publish validation rejected the staged data."""


def restore_parked(path: str) -> None:
    """Crash recovery for the publish swap: a publish dying between its two
    renames leaves the published version parked at ``.__old__`` with no
    live path. Move it back."""
    import os

    old = f"{path}.__old__"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)


def publish_with_audit(
    df: DataFrame,
    path: str,
    checks: list,
    mode: str = "overwrite",
) -> dict:
    """Write-audit-publish: stage the data to a scratch directory, run
    validation checks against the STAGED files (what readers would see,
    not the pre-write plan), and only then atomically swap it live —
    readers never observe a half-written or invalid table.

    `checks` are (name, fn) pairs where fn(staged_df) -> bool; any False
    aborts with AuditFailure and removes the staging dir, leaving the
    previous published version untouched. Returns {check_name: True}.
    The pattern Delta/Iceberg formalize as branch-and-publish, expressed
    with stock parquet + directory rename.
    """
    import os
    import shutil

    spark = df.sparkSession
    # swap against the real previous version, not a missing one
    restore_parked(path)
    tmp = f"{path}.__stage__"
    df.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    results: dict = {}
    for name, fn in checks:
        ok = bool(fn(staged))
        results[name] = ok
        if not ok:
            shutil.rmtree(tmp, ignore_errors=True)
            raise AuditFailure(f"audit check failed: {name}")
    old = f"{path}.__old__"
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    return results


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Compact a small-file parquet directory (the debris a streaming sink
    accumulates: one file per micro-batch per partition) into
    ≈target_file_mb files, republished atomically via the write-audit
    swap so readers never see a partial table. Returns the new file count.

    File count derives from the CURRENT on-disk byte size — no driver
    collect of data, just directory metadata; optional sort_cols re-sort
    within output files to restore clustering after compaction."""
    import glob as _glob
    import os

    files = _glob.glob(f"{path}/*.parquet") + _glob.glob(f"{path}/**/*.parquet")
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    compacted = df.repartition(n_files)
    if sort_cols:
        compacted = compacted.sortWithinPartitions(*sort_cols)
    rows_before = df.count()
    publish_with_audit(
        compacted,
        path,
        checks=[("row_count_preserved", lambda d: d.count() == rows_before)],
    )
    return n_files


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent backfill: replace ONLY the hive partitions present in
    `df`, leaving every other partition untouched (dynamic partition
    overwrite). Re-running the same backfill converges to the same state,
    so a failed job can simply be retried — the selective-recompute
    primitive for date-partitioned 100 TB tables."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
