"""Streaming observability: per-micro-batch progress metrics.

The reference exposes its throughput/lag over JMX via Kafka Streams'
built-in metrics (enabled through the standard streams config,
`ABBankStreamsConfig.java` properties). Structured Streaming's analog is
the StreamingQueryListener: every micro-batch posts a progress event with
rows read, processing rate, batch duration, and per-stateful-operator
state rows. This module materializes those events as a queryable metrics
table — the ops surface a pipeline team actually monitors.

Scale note: listener callbacks run on the driver's listener bus and only
ever see AGGREGATED per-batch metrics (a handful of rows per batch
regardless of data size), so recording them is free at any scale.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from cdc_stream_processor_spark.streaming.lifecycle import _progress_summary


class ProgressRecorder(StreamingQueryListener):
    """Collects per-batch progress for all queries (or one by name).

    Thread-safe: the listener bus invokes callbacks from its own thread.
    ``metrics_df()`` snapshots the collected rows as a DataFrame with one
    row per (query, batch): the query name plus the same progress summary
    ``/healthz`` reports (``lifecycle._progress_summary``).
    """

    def __init__(self, query_name: str | None = None) -> None:
        self._rows: list[dict] = []
        self._lock = threading.Lock()
        self._query_name = query_name

    # -- listener callbacks ------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if self._query_name and p.name != self._query_name:
            return
        row = {"query_name": p.name or "", **_progress_summary(json.loads(p.json))}
        with self._lock:
            self._rows.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- access ------------------------------------------------------------
    def metrics_df(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self._rows)
        schema = (
            "query_name string, batch_id long, timestamp string, "
            "num_input_rows long, input_rows_per_second double, "
            "processed_rows_per_second double, batch_duration_ms long, "
            "state_rows_total long"
        )
        return spark.createDataFrame(rows, schema)
