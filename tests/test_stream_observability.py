"""Streaming observability: per-micro-batch telemetry via a Python
StreamingQueryListener + observe()-backed quality counters riding each
batch's own execution (streaming/observability.py)."""

from __future__ import annotations

import json
import time

from pyspark.sql import types as T

from serverless_datalake_aws_spark.engine import DataLakeEngine
from serverless_datalake_aws_spark.streaming.pipeline import drain, stream_promote

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _write_ndjson(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(r) for r in rows))


def _wait_rows(rec, n, timeout_s=30.0):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if len(rec.rows()) >= n:
            return True
        time.sleep(0.1)
    return False


def test_observed_quality_counters_per_batch(spark, tmp_path):
    """observe() counters surface in the listener rows: total rows and
    per-rule violation counts, per micro-batch, with zero extra passes."""
    lake = DataLakeEngine(spark, str(tmp_path / "lake"))
    rec = lake.enable_stream_metrics()
    assert lake.enable_stream_metrics() is rec  # idempotent

    raw = tmp_path / "raw"
    _write_ndjson(raw / "a.json", [{"id": "1", "v": 5}, {"id": "2", "v": -3}])
    _write_ndjson(raw / "b.json", [{"id": "3", "v": None}])
    q = stream_promote(
        spark,
        str(raw),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        RECORD_SCHEMA,
        observe_rules={"v_nonneg": "v >= 0", "v_present": "v IS NOT NULL"},
    )
    drain(q)
    assert _wait_rows(rec, 1)

    rows = [r for r in rec.rows() if r["num_input_rows"] > 0]
    assert rows, "no progress row captured input"
    totals = {"rows": 0, "bad_v_nonneg": 0, "bad_v_present": 0}
    for r in rows:
        obs = json.loads(r["observed"])["quality"]
        for k in totals:
            totals[k] += obs[k]
        assert r["batch_id"] >= 0 and r["trigger_ms"] >= 0
    # 3 rows total; v=-3 violates nonneg (null v doesn't: predicate NULL
    # -> otherwise(1)... both null rules count it), v=None violates both
    assert totals["rows"] == 3
    assert totals["bad_v_present"] == 1
    assert totals["bad_v_nonneg"] == 2  # -3 and the NULL (non-TRUE)

    # export: flush -> parquet table via engine.stream_metrics()
    df = lake.stream_metrics()
    assert df.filter("num_input_rows > 0").count() >= 1
    assert set(df.columns) >= {
        "query_id",
        "batch_id",
        "num_input_rows",
        "trigger_ms",
        "observed",
    }
    lake.disable_stream_metrics()


def test_disable_detaches_listener(spark, tmp_path):
    lake = DataLakeEngine(spark, str(tmp_path / "lake"))
    rec = lake.enable_stream_metrics()
    lake.disable_stream_metrics()

    raw = tmp_path / "raw"
    _write_ndjson(raw / "a.json", [{"id": "1", "v": 1}])
    q = stream_promote(
        spark,
        str(raw),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        RECORD_SCHEMA,
    )
    drain(q)
    time.sleep(1.0)  # listener bus is async; give a straggler a chance
    assert rec.rows() == []


def test_stream_metrics_empty_before_any_flush(spark, tmp_path):
    """An empty metrics table is a valid dashboard answer, not a
    missing-path crash."""
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    lake = DataLakeEngine(spark, str(tmp_path / "lake"))
    df = lake.stream_metrics()
    assert df.count() == 0
    assert "batch_id" in df.columns
    lake.disable_stream_metrics()


_EXIT_PROBE = """
import sys
from serverless_datalake_aws_spark.engine import DataLakeEngine
from serverless_datalake_aws_spark.session import get_session
spark = get_session(app_name="exit-probe", cpus=1)
eng = DataLakeEngine(spark, sys.argv[1])
eng.enable_stream_metrics()
eng.ingest_batch([{"text": "alpha"}], data_type="t")
eng.index_cdc()
print("DRAINED")
"""


def test_stream_listener_detached_at_exit(tmp_path):
    """A script that enables stream metrics and exits right after a
    drain leaves no progress event for the JVM to deliver to a Python
    side that is gone (each would log a py4j connection error)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_PROBE, str(tmp_path / "lake")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env={
            **os.environ,
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
        },
    )
    assert "DRAINED" in out.stdout, out.stderr[-2000:]
    assert "Py4JNetworkException" not in out.stderr, out.stderr[-4000:]
