"""Operational query metrics — CloudWatch parity (VERDICT r6 item 4).

The reference wires CloudWatch dashboards + alarms over its Lambda and
Athena surfaces (deploy-script.sh:133-180,
aws-data-lake-terraform-main.tf:391-448): every query execution emits
wall time / rows / bytes metrics that ops roll up. This module gives
the engine the same telemetry, Spark-first: a real
`QueryExecutionListener` registered on the session's listener manager
through the py4j callback server (the same mechanism PySpark's
streaming listeners use), so EVERY action on the session — engine.sql
results being collected, process() writes, search() fetches — yields
one metrics row with zero double-execution and no polling.

Per row: (ts, func_name, fingerprint, label, plan, wall_ms, out_rows,
shuffle_bytes).

- `fingerprint` is the ANALYZED plan's semanticHash — Catalyst's own
  canonical query identity (stable across runs of the same query text
  over the same schema; the Athena "query fingerprint" analogue).
- `label` joins fingerprints back to human names: callers tag a
  DataFrame via `register_label(df, "daily_rollup")` and every later
  execution of a semantically-equal plan carries the tag.
- `shuffle_bytes` sums the `shuffle bytes written` SQLMetric over the
  executed plan (AQE-aware: the walk takes `finalPhysicalPlan` and
  unwraps QueryStageExec nodes), `out_rows` the rows the driver
  received (the first `number of output rows` from the root, capped by
  a top-k or collect-limit root's limit).

Listener callbacks run on Spark's async listener bus, so the callback
does NO Spark work (it appends to an in-memory buffer — a re-entrant
listener writing through Spark would recurse); `flush()` persists the
buffer to the `_metrics` parquet table via pyarrow directly. At scale
this is exactly the CloudWatch agent shape: cheap in-path capture,
asynchronous batched export, one small file per flush (compact with
sources/compact.py like any other small-file feed).

`WorkWindow` is the pull-based side (bench.py's row profiles, the tools'
plans); `phase(name)` times a block into the window open on its thread.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("func_name", T.StringType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("label", T.StringType()),
        T.StructField("plan", T.StringType()),
        T.StructField("wall_ms", T.DoubleType()),
        T.StructField("out_rows", T.LongType()),
        T.StructField("shuffle_bytes", T.LongType()),
    ]
)


def flush_rows(path: str, rows: list[dict], schema) -> int:
    """Shared telemetry export: append `rows` to the feed at `path` via
    the driver-side appender (`sources.writers.append_rows` — an
    exporter must not run Spark jobs, a batch listener would re-enter
    itself). Used by both the batch recorder here and the streaming
    recorder (streaming/observability.py).

    The write holds the feed's FileLock — the same lock
    engine.maintain() takes while compacting the feed (an unlocked
    flush landing between compaction's rmtree and rename would be
    silently deleted)."""
    from serverless_datalake_aws_spark.sources.commitlog import FileLock
    from serverless_datalake_aws_spark.sources.writers import append_rows

    if not rows:
        return 0
    with FileLock(path.rstrip("/") + ".lock", ttl=30.0):
        return append_rows(None, path, rows, schema)


def _walk_final_plan(executed):
    """Yield every physical node, entering AQE wrappers and query
    stages (their children() are Nil; the real subtree hangs off
    finalPhysicalPlan() / plan())."""
    try:
        if executed.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            executed = executed.finalPhysicalPlan()
    except Exception:
        pass
    stack = [executed]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            try:
                stack.append(node.plan())
            except Exception:
                pass
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        try:
            inner = node.innerChildren()
            for i in range(inner.size()):
                stack.append(inner.apply(i))
        except Exception:
            pass


def _metric_values(node):
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        yield str(kv._2().name()), kv._2().value()


_DRIVER_MERGES = ("TakeOrderedAndProjectExec", "CollectLimitExec")


class MetricsRecorder:
    """Session-wide query-execution telemetry with parquet export."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self._buffer: list[dict] = []
        self._labels: dict[int, str] = {}
        self._lock = threading.Lock()
        self._installed = False
        self._ever_registered = False  # JVM-side registration is one-way

    # -- labeling ----------------------------------------------------
    def register_label(self, df, label: str) -> None:
        """Tag a DataFrame's canonical plan identity; any execution of
        a semantically-equal plan is recorded under `label`."""
        fp = int(df._jdf.queryExecution().analyzed().semanticHash())
        with self._lock:
            self._labels[fp] = label

    # -- listener ----------------------------------------------------
    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java iface)
        if not self._installed:
            return  # detached: py4j may still route a straggler here
        try:

            def _read_metrics():
                sh, rows, root = 0, -1, None
                for node in _walk_final_plan(qe.executedPlan()):
                    root = node if root is None else root
                    for name, value in _metric_values(node):
                        if "shuffle bytes written" in name:
                            sh += int(value)
                        elif rows < 0 and "number of output rows" in name:
                            # first node carrying the metric on the
                            # walk from the root = result cardinality
                            rows = int(value)
                if rows >= 0 and root.getClass().getSimpleName() in _DRIVER_MERGES:
                    # below this root each partition sends up to `limit`
                    # rows; the driver keeps `limit` (-1: all) of them
                    # and drops the first `offset`
                    lim = root.limit()
                    rows = min(rows, lim) if lim >= 0 else rows
                    rows = max(rows - root.offset(), 0)
                return sh, rows

            shuffle, out_rows = _read_metrics()
            fp = int(qe.analyzed().semanticHash())

            def _record(sh, rows) -> None:
                with self._lock:
                    self._buffer.append(
                        {
                            "ts": datetime.now(timezone.utc),
                            "func_name": str(funcName),
                            "fingerprint": fp,
                            "label": self._labels.get(fp),
                            "plan": str(qe.analyzed().simpleString(25))[:200],
                            "wall_ms": float(durationNs) / 1e6,
                            "out_rows": rows,
                            "shuffle_bytes": sh,
                        }
                    )

            if out_rows == 0:
                # SQLMetric accumulator values can lag the listener
                # callback for a plan's FIRST execution (observed:
                # root agg reads 0 at callback time, correct value
                # ~100ms later). 0 is ambiguous (legit empty result
                # vs lag) — re-read after a short delay OFF the shared
                # listener-bus thread (a sleep here would serialize
                # every listener on the session behind each empty
                # result and back the bus up until events drop).
                def _deferred() -> None:
                    try:
                        _record(*_read_metrics())
                    except Exception:
                        pass

                threading.Timer(0.2, _deferred).start()
            else:
                _record(shuffle, out_rows)
        except Exception:
            pass  # telemetry must never fail a query

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        if not self._installed:
            return
        try:
            with self._lock:
                self._buffer.append(
                    {
                        "ts": datetime.now(timezone.utc),
                        "func_name": f"{funcName}:FAILED",
                        "fingerprint": int(qe.analyzed().semanticHash()),
                        "label": None,
                        "plan": str(qe.analyzed().simpleString(25))[:200],
                        "wall_ms": -1.0,
                        "out_rows": -1,
                        "shuffle_bytes": -1,
                    }
                )
        except Exception:
            pass

    def install(self) -> "MetricsRecorder":
        if self._installed:
            return self
        # register the JVM proxy at most ONCE per recorder: unregister
        # cannot remove it (see uninstall), so a re-install that
        # registered again would stack proxies and double every row —
        # re-enabling just flips the flag back on
        if not self._ever_registered:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self.spark._jsparkSession.listenerManager().register(self)
            self._ever_registered = True
        self._installed = True
        return self

    def uninstall(self) -> None:
        """Detach. py4j wraps a Python callback object in a FRESH Java
        proxy per conversion, so `unregister(self)` passes a proxy the
        listener bus never saw and removes nothing (verified live) —
        the flag is the real off-switch: callbacks still arrive but
        record nothing. The unregister attempt stays for the day py4j
        interns proxies; `clear()` is not used because it would strip
        listeners this module does not own."""
        if self._installed:
            self._installed = False  # off-switch FIRST (callbacks async)
            try:
                self.spark._jsparkSession.listenerManager().unregister(self)
            except Exception:
                pass

    # -- export ------------------------------------------------------
    def wait_for(
        self, labels: set[str], timeout_s: float = 20.0, count: int = 1
    ) -> bool:
        """Listener delivery is async (Spark's listener bus); block
        until every label has at least `count` buffered rows."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                per = {}
                for r in self._buffer:
                    if r["label"]:
                        per[r["label"]] = per.get(r["label"], 0) + 1
            if all(per.get(lb, 0) >= count for lb in labels):
                return True
            time.sleep(0.05)
        return False

    def flush(self) -> int:
        """Persist buffered rows to the parquet metrics table (via the
        shared `flush_rows` exporter). Returns rows written."""
        with self._lock:
            rows, self._buffer = self._buffer, []
        return flush_rows(self.path, rows, METRICS_SCHEMA)


_open = threading.local()  # .window: the WorkWindow open on this thread


def _stored(read, key: int):
    from py4j.protocol import Py4JJavaError

    try:
        return read(key)
    except Py4JJavaError as exc:  # NoSuchElementException
        raise LookupError(f"{key} is no longer in Spark's status store") from exc


class WorkWindow:
    """The Spark work run while a `with` block is open, read from the
    status stores Spark keeps even with the UI off. Jobs count by id, so
    a stream thread's `foreachBatch` jobs count too. Reads raise
    LookupError where Spark evicted the window (it keeps 1000 of each)."""

    def __init__(self, spark):
        self.spark = spark
        self.phases: dict[str, float] = defaultdict(float)  # phase(): wall s

    def _mark(self) -> tuple[int, int]:
        # next job and SQL execution ids once every posted event is in
        # the stores (which list executions in id order)
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        last = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return sc.dagScheduler().numTotalJobs(), last + 1

    def __enter__(self) -> "WorkWindow":
        _open.window = self
        self._jobs0, self._execs0 = self._mark()
        return self

    def __exit__(self, *exc) -> None:
        self._jobs1, self._execs1 = self._mark()
        _open.window = None

    def work(self) -> dict:
        """Jobs; stages that ran tasks, their tasks, single-task ones,
        shuffle bytes, run time. A stage a job skipped for reused shuffle
        output ran nothing: it is not read (Spark evicts skipped stages
        first, so it may be gone even while the window is kept)."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        wrapper = self.spark._jvm.org.apache.spark.status.JobDataWrapper
        read_job = lambda j: store.store().read(wrapper._java_lang_class, j)  # noqa: E731
        stages = set()
        for j in range(self._jobs0, self._jobs1):
            job = _stored(read_job, j)
            ids, skipped = job.info().stageIds(), job.skippedStages()
            stages.update(
                s for s in (ids.apply(i) for i in range(ids.size()))
                if not skipped.contains(s)
            )
        out = {"jobs": self._jobs1 - self._jobs0, "stages": 0, "tasks": 0}
        out.update(single_task_stages=0, shuffle_bytes=0, executor_run_ms=0)
        for st in (_stored(store.lastStageAttempt, s) for s in stages):
            ran = st.numCompleteTasks() + st.numFailedTasks()
            out["stages"] += ran > 0
            out["tasks"] += ran
            out["single_task_stages"] += ran > 0 and st.numTasks() == 1
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["executor_run_ms"] += st.executorRunTime()
        return out

    def plans(self) -> list[str]:
        """The final formatted physical plan of each SQL execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        read = lambda e: store.execution(e).get()  # noqa: E731
        return [
            _stored(read, e).physicalPlanDescription()
            for e in range(self._execs0, self._execs1)
        ]


@contextlib.contextmanager
def phase(name: str):
    """Add the block's wall time to phases[name] of the WorkWindow open
    on this thread; outside a window, just run the block."""
    window, t0 = getattr(_open, "window", None), time.perf_counter()
    yield
    if window is not None:
        window.phases[name] += time.perf_counter() - t0
