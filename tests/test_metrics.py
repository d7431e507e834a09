"""Operational metrics table (VERDICT r6 item 4: CloudWatch parity).

A QueryExecutionListener on the session must yield one metrics row per
executed action — engine.sql collections, process() writes, search()
fetches — with wall time, fingerprint, output rows, and shuffle bytes,
exported to the `_metrics` parquet table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_datalake_aws_spark.engine import DataLakeEngine


def _engine(spark, tmp_path):
    eng = DataLakeEngine(spark, tmp_path / "lake")
    eng.ingest_batch(
        [{"text": f"alpha doc {i}", "v": i} for i in range(8)], data_type="t1"
    )
    return eng


def test_metrics_rows_for_sql_process_search(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    rec = eng.enable_metrics()

    df = eng.sql("SELECT 1 AS one")
    rec.register_label(df, "probe_sql")
    df.collect()

    eng.process()  # promote + index: write-path executions
    eng.search(term="alpha").collect()

    assert rec.wait_for({"probe_sql"}, timeout_s=30.0)
    m = eng.metrics()
    assert set(m.columns) == {
        "ts",
        "func_name",
        "fingerprint",
        "label",
        "plan",
        "wall_ms",
        "out_rows",
        "shuffle_bytes",
    }
    rows = m.collect()
    assert len(rows) >= 3  # sql + process writes + search collect
    labeled = [r for r in rows if r["label"] == "probe_sql"]
    assert len(labeled) == 1
    assert labeled[0]["wall_ms"] > 0
    assert labeled[0]["out_rows"] == 1
    # every recorded action has a fingerprint and non-negative wall
    assert all(r["fingerprint"] is not None for r in rows)
    rec.uninstall()


def test_metrics_shuffle_bytes_and_cardinality(spark, tmp_path):
    """A shuffling aggregation must report shuffle_bytes > 0 and the
    result cardinality; re-running the same query accumulates runs
    under one fingerprint (the rollup dimension)."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    rec = eng.enable_metrics()
    spark.range(0, 20000, 1, 8).withColumn(
        "k", F.col("id") % 13
    ).createOrReplaceTempView("tm_probe")
    df = eng.sql("SELECT k, count(*) AS n FROM tm_probe GROUP BY k")
    rec.register_label(df, "grouped")
    df.collect()
    df.collect()
    assert rec.wait_for({"grouped"}, timeout_s=30.0, count=2)
    m = eng.metrics().filter("label = 'grouped'")
    rows = m.collect()
    assert len(rows) == 2  # one row per execution, same fingerprint
    assert len({r["fingerprint"] for r in rows}) == 1
    for r in rows:
        assert r["out_rows"] == 13
        assert r["shuffle_bytes"] > 0
        assert r["wall_ms"] > 0
    rec.uninstall()


def test_metrics_flush_batches_and_listener_survives_errors(spark, tmp_path):
    """flush() drains the buffer (second flush writes nothing new) and
    a failed query is recorded as :FAILED without breaking the
    listener."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    rec = eng.enable_metrics()
    eng.sql("SELECT 2 AS two").collect()
    import time

    deadline = time.time() + 20
    n = 0
    while time.time() < deadline and n == 0:
        n = rec.flush()
        time.sleep(0.05)
    assert n >= 1
    assert rec.flush() == 0  # drained
    try:
        eng.sql("SELECT assert_true(false)").collect()
    except Exception:
        pass
    df = eng.sql("SELECT 3 AS three")
    rec.register_label(df, "after_failure")
    df.collect()
    assert rec.wait_for({"after_failure"}, timeout_s=30.0)
    rec.uninstall()


def test_uninstall_stops_recording_and_reinstall_is_single(spark, tmp_path):
    """py4j cannot actually unregister a Python callback proxy (a
    fresh proxy is created per conversion, so unregister never
    matches) — the off-switch is the flag, and re-install must NOT
    stack a second proxy (which would double every row)."""
    import time

    from serverless_datalake_aws_spark.operators.metrics import MetricsRecorder

    rec = MetricsRecorder(spark, str(tmp_path / "m")).install()
    spark.range(3).collect()
    deadline = time.time() + 20
    while time.time() < deadline and not rec._buffer:
        time.sleep(0.05)
    n1 = len(rec._buffer)
    assert n1 >= 1

    rec.uninstall()
    spark.range(4).collect()
    time.sleep(2)
    assert len(rec._buffer) == n1  # detached: nothing recorded

    rec.install()  # re-enable
    df = spark.range(6).groupBy((F.col("id") % 2).alias("k")).count()
    rec.register_label(df, "reinstalled")
    df.collect()
    assert rec.wait_for({"reinstalled"}, timeout_s=20.0)
    time.sleep(2)  # allow any (wrong) duplicate delivery to land
    labeled = [r for r in rec._buffer if r["label"] == "reinstalled"]
    assert len(labeled) == 1  # exactly once — no stacked proxies
    rec.uninstall()


def _recorded(rec, df, label):
    rec.register_label(df, label)
    received = len(df.collect())
    assert rec.wait_for({label}, timeout_s=30.0)
    (row,) = [r for r in rec._buffer if r["label"] == label]
    return received, row


def test_out_rows_is_rows_the_driver_received(spark, tmp_path):
    """A top-k root merges per-partition results on the driver: below
    it, `number of output rows` counts k rows from each of the 4
    partitions (20), but the driver receives k. The collect-limit root
    with an offset ships limit rows and drops the offset; a plain
    collect's root count is already what the driver receives."""
    from serverless_datalake_aws_spark.operators.metrics import MetricsRecorder

    rec = MetricsRecorder(spark, str(tmp_path / "m")).install()
    base = spark.range(0, 100, 1, 4)
    try:
        for label, df in (
            ("topk", base.orderBy("id").limit(5)),
            ("limit_offset", base.offset(2).limit(5)),
            ("plain", base.filter("id % 3 = 0")),
        ):
            received, row = _recorded(rec, df, label)
            assert row["out_rows"] == received, (label, row["out_rows"], received)
    finally:
        rec.uninstall()


def test_window_returns_internal_leg_formatted_plan(spark):
    """A query that materializes an internal leg and returns a local
    relation: the window holds the leg's final formatted plan."""
    from serverless_datalake_aws_spark.operators.metrics import WorkWindow

    with WorkWindow(spark) as w:
        rows = spark.range(3).groupBy().count().collect()
        spark.createDataFrame(rows)
    plans = w.plans()
    assert len(plans) == 1
    assert "Physical Plan" in plans[0]
    assert "HashAggregate" in plans[0]


def test_phase_outside_a_window_records_nothing(spark):
    """phase() records only into the window open on the calling thread:
    with none open it just runs the block."""
    import threading

    from serverless_datalake_aws_spark.operators.metrics import WorkWindow, phase

    ran = []

    def timed_block(tag):
        with phase("build"):
            ran.append(tag)

    timed_block("no window")
    with WorkWindow(spark) as w:
        t = threading.Thread(target=timed_block, args=("other thread",))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert ran == ["no window", "other thread"] and w.phases == {}
    with WorkWindow(spark) as w:
        with phase("build"):
            pass
        with phase("serve"):
            spark.range(3).collect()
    assert set(w.phases) == {"build", "serve"}
    assert w.phases["serve"] > 0


def test_window_counts_equal_a_status_tracker_walk(spark):
    from serverless_datalake_aws_spark.operators.metrics import WorkWindow

    with WorkWindow(spark) as w:
        spark.range(0, 20000, 1, 4).withColumn("k", F.col("id") % 13).groupBy(
            "k"
        ).count().collect()
        spark.range(0, 10, 1, 1).collect()
    work = w.work()
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for j in range(w._jobs0, w._jobs1):
        stages.update(tracker.getJobInfo(j).stageIds)
    ran = [
        st
        for st in map(tracker.getStageInfo, stages)
        if st.numCompletedTasks + st.numFailedTasks
    ]
    assert work["jobs"] == w._jobs1 - w._jobs0 >= 2
    assert work["stages"] == len(ran) >= 3
    assert work["tasks"] == sum(s.numCompletedTasks + s.numFailedTasks for s in ran)
    assert work["single_task_stages"] == sum(s.numTasks == 1 for s in ran) >= 1


def test_window_shuffle_bytes_equal_metrics_recorder(spark, tmp_path):
    """One vocabulary: the window's shuffle_bytes for one shuffling
    action is the recorder's shuffle_bytes for it."""
    from serverless_datalake_aws_spark.operators.metrics import (
        MetricsRecorder,
        WorkWindow,
    )

    rec = MetricsRecorder(spark, str(tmp_path / "m")).install()
    df = spark.range(0, 20000, 1, 8).groupBy((F.col("id") % 97).alias("k")).count()
    try:
        with WorkWindow(spark) as w:
            _, row = _recorded(rec, df, "shuffling")
    finally:
        rec.uninstall()
    assert row["shuffle_bytes"] > 0
    assert w.work()["shuffle_bytes"] == row["shuffle_bytes"]


def test_window_counts_foreach_batch_jobs(spark, tmp_path):
    """index_cdc's micro-batch jobs run on the stream thread, under the
    stream's `id/runId/batch` description: the window counts them."""
    from serverless_datalake_aws_spark.operators.metrics import WorkWindow

    eng = _engine(spark, tmp_path)
    with WorkWindow(spark) as w:
        eng.index_cdc()
    store = spark.sparkContext._jsc.sc().statusStore()
    in_batch = [
        j
        for j in range(w._jobs0, w._jobs1)
        if "batch = " in str(store.job(j).description())
    ]
    assert len(in_batch) > 0
    assert w.work()["jobs"] >= len(in_batch)
    assert eng.search(term="alpha").count() == 8  # the drain indexed


_EVICTION_PROBE = """
from pyspark.sql import SparkSession
from serverless_datalake_aws_spark.operators.metrics import WorkWindow
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .config("spark.ui.retainedJobs", "5")
    .config("spark.ui.retainedStages", "5")
    .config("spark.sql.ui.retainedExecutions", "5")
    .getOrCreate()
)
with WorkWindow(spark) as w:
    for _ in range(30):
        spark.range(3).collect()
for read in (w.work, w.plans):
    try:
        read()
        print("UNDERCOUNT", read.__name__)
    except LookupError as exc:
        print("EVICTED", read.__name__, exc)
spark.stop()
"""


def test_window_raises_on_evicted_ids(tmp_path):
    """Spark keeps only the newest spark.ui.retainedJobs/retainedStages
    jobs/stages and spark.sql.ui.retainedExecutions executions (1000
    each by default). A window reaching past them raises instead of
    counting only what is left. Run in a child process: the retention
    limits are fixed when a SparkContext starts."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _EVICTION_PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            [repo, os.environ.get("PYTHONPATH", "")])},
    )
    verdicts = [
        ln.split()[:2]
        for ln in out.stdout.splitlines()
        if ln.startswith(("EVICTED", "UNDERCOUNT"))
    ]
    assert verdicts == [
        ["EVICTED", "work"],
        ["EVICTED", "plans"],
    ], out.stdout + out.stderr[-2000:]


_REUSE_PROBE = """
from pyspark.sql import SparkSession
from serverless_datalake_aws_spark.operators.metrics import WorkWindow
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .config("spark.ui.retainedStages", "10")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()
)
shuffled = spark.range(100).repartition(2)
shuffled.collect()
for _ in range(20):
    spark.range(3).collect()
with WorkWindow(spark) as w:
    shuffled.collect()  # its map stage is skipped: the output is reused
    for _ in range(3):
        spark.range(3).collect()
print("WORK", w.work())
spark.stop()
"""


def test_window_counts_reused_shuffle_output(tmp_path):
    """A job that reuses shuffle output lists a skipped map stage, which
    Spark's status store evicts before any stage that ran. The window
    still counts: the skipped stage ran no task, so it is not read."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _REUSE_PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            [repo, os.environ.get("PYTHONPATH", "")])},
    )
    work = [ln for ln in out.stdout.splitlines() if ln.startswith("WORK")]
    assert len(work) == 1, out.stdout + out.stderr[-2000:]
    # the reusing job's result stage (2 tasks) and three 1-task jobs
    assert "'jobs': 4, 'stages': 4, 'tasks': 5," in work[0], work[0]
