"""Schema-explicit CSV / JSON-lines ingestion.

The reference ingests exactly one wire format (Confluent-framed Avro over
Kafka; `AvroSerdes.java:35-58`); a general engine also meets corpora
delivered as CSV dumps and JSONL exports. Both loaders here are strict
about the two things that silently corrupt pipelines at scale:

- **Explicit schema, never inference.** Schema inference runs an extra
  full scan of 100 TB and can flip types between runs (a column of "01"
  strings becomes int the day the sample misses a "1A"). Callers pass a
  DDL string or StructType.
- **PERMISSIVE + quarantine column.** Malformed rows land in
  ``_corrupt_record`` instead of killing the job (the same
  fail-soft-and-track posture as the CDC parser's null-skip + DLQ,
  `TransactionEvent.java:59-62` parity); ``split_corrupt`` separates the
  clean frame from the quarantine frame so callers route the latter to a
  dead-letter sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"
# reader / from_json options: malformed input lands in CORRUPT_COL
PERMISSIVE_OPTIONS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


def _with_corrupt(schema: str | T.StructType) -> T.StructType:
    st = (
        T._parse_datatype_string(schema)  # noqa: SLF001 (public-enough DDL parser)
        if isinstance(schema, str)
        else schema
    )
    if CORRUPT_COL not in st.fieldNames():
        st = T.StructType(
            list(st.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return st


def read_jsonl(
    spark: SparkSession, path: str, schema: str | T.StructType
) -> DataFrame:
    """JSON-lines with explicit schema; malformed lines quarantine in
    _corrupt_record (PERMISSIVE)."""
    return spark.read.schema(_with_corrupt(schema)).options(
        **PERMISSIVE_OPTIONS
    ).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV with explicit schema; malformed rows quarantine in
    _corrupt_record (PERMISSIVE)."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .options(**PERMISSIVE_OPTIONS)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_quarantine_col, quarantined_raw_records).

    The parsed frame is cached first: Spark refuses queries that project
    only the internal corrupt-record column from a bare file scan (the
    raw record isn't otherwise part of the scan), and caching the parse
    is also what you want operationally — both halves read one parse."""
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, bad


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_jsonl``: a file-source readStream over a
    JSONL directory with the same PERMISSIVE + _corrupt_record contract,
    so a continuously-landing corpus drop ingests with the identical
    quarantine semantics as the batch loader (route the corrupt half to
    a DLQ sink inside foreachBatch via ``split_corrupt`` — unlike the
    batch path, no cache is needed there because foreachBatch hands a
    materializable micro-batch frame).

    File sources need an explicit schema anyway (no streaming inference),
    which the loaders here already require; maxFilesPerTrigger bounds
    per-micro-batch work for backfill directories."""
    reader = spark.readStream.schema(_with_corrupt(schema)).options(
        **PERMISSIVE_OPTIONS
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC batch source — Spark-native columnar alternate to parquet;
    schema from file metadata, predicate pushdown + column pruning apply
    the same as parquet (the scan node advertises PushedFilters)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)
