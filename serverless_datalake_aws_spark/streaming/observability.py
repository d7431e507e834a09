"""Streaming observability: per-micro-batch telemetry + in-stream
quality counters — the streaming half of CloudWatch parity.

The batch side (operators/metrics.py) records one row per query
execution; streams need the PER-BATCH view the reference gets from its
Lambda invocation/error/duration dashboards (deploy-script.sh:133-180):
is the stream keeping up (input vs processed rate), how long does each
trigger take, and how many rows violated a quality rule THIS batch.

Two Spark-native pieces:

- `observe_quality(df, rules)` attaches `DataFrame.observe` counters —
  total rows plus one violation count per (name, SQL-predicate) rule —
  to a STREAMING DataFrame. Observed metrics are accumulator-backed:
  they ride the batch's own execution (zero extra passes, zero extra
  actions — unlike the st11 foreachBatch monitor, which is the right
  shape when verdicts must gate the sink) and surface in
  `StreamingQueryProgress.observedMetrics`.
- `StreamMetricsRecorder` is a real PySpark `StreamingQueryListener`
  (`spark.streams.addListener`) buffering one row per progress event:
  (ts, query_id, run_id, name, batch_id, num_input_rows,
  input_rows_per_s, process_rows_per_s, trigger_ms, observed-JSON) —
  flushed to a `_stream_metrics` parquet table via pyarrow (the
  listener thread must not run Spark jobs, same rule as the batch
  recorder). Unlike the batch QueryExecutionListener, Python streaming
  listeners detach cleanly via `spark.streams.removeListener`.

At scale: capture is in-path accumulator math, export is one small
file per flush; `engine.maintain()`-style compaction applies to the
metrics feed like any other small-file table.
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.listener import StreamingQueryListener

# the `_stream_metrics` table's schema (also an empty read's, before
# anything is flushed)
STREAM_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("query_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("input_rows_per_s", T.DoubleType()),
        T.StructField("process_rows_per_s", T.DoubleType()),
        T.StructField("trigger_ms", T.LongType()),
        T.StructField("observed", T.StringType()),
    ]
)


def observe_quality(
    df: DataFrame, rules: dict[str, str], name: str = "quality"
) -> DataFrame:
    """Attach per-batch quality counters to a (streaming) DataFrame:
    `rows` plus one `bad_<rule>` violation count per SQL predicate in
    `rules` ({rule_name: predicate that GOOD rows satisfy}). Costs one
    accumulator per counter inside the batch's own execution."""
    counters = [F.count(F.lit(1)).alias("rows")]
    for rule, pred in rules.items():
        counters.append(
            F.sum(
                F.when(F.expr(pred), F.lit(0)).otherwise(F.lit(1))
            ).cast("long").alias(f"bad_{rule}")
        )
    return df.observe(name, *counters)


class StreamMetricsRecorder(StreamingQueryListener):
    """Buffer one telemetry row per micro-batch progress event; flush
    to parquet on demand."""

    def __init__(self, path: str):
        self.path = path
        self._buffer: list[dict] = []
        self._lock = threading.Lock()

    # -- listener callbacks (async listener bus: no Spark work here) --
    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        try:
            p = event.progress
            observed = {
                name: row.asDict() for name, row in (p.observedMetrics or {}).items()
            }
            dur = p.durationMs or {}
            with self._lock:
                self._buffer.append(
                    {
                        "ts": datetime.now(timezone.utc),
                        "query_id": str(p.id),
                        "run_id": str(p.runId),
                        "name": p.name,
                        "batch_id": int(p.batchId),
                        "num_input_rows": int(p.numInputRows),
                        "input_rows_per_s": float(p.inputRowsPerSecond or 0.0),
                        "process_rows_per_s": float(
                            p.processedRowsPerSecond or 0.0
                        ),
                        "trigger_ms": int(dur.get("triggerExecution", -1)),
                        "observed": json.dumps(observed, sort_keys=True),
                    }
                )
        except Exception:
            pass  # telemetry must never fail the stream

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    # -- export -------------------------------------------------------
    def rows(self) -> list[dict]:
        with self._lock:
            return list(self._buffer)

    def flush(self) -> int:
        from serverless_datalake_aws_spark.operators.metrics import flush_rows

        with self._lock:
            rows, self._buffer = self._buffer, []
        return flush_rows(self.path, rows, STREAM_METRICS_SCHEMA)
