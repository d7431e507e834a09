"""Streaming entries for the correctness harness (SURVEY §2.9).

These run real Structured Streaming queries (availableNow drain over the
parquet test tables) and return their results as DataFrames. Every entry
carries a full value-level DuckDB oracle: an availableNow drain of a
single static file is deterministic, and watermark-gated append output
is SQL-expressible once the final watermark is known — it is
max(event_time) - delay, and append mode emits exactly the windows whose
end <= that watermark ("the watermark passes the end of the window",
Structured Streaming guide). The HAVING clauses below encode that gate;
the boundary (<= vs <) was probed empirically at sf0.001 and sf0.01 and
never lands on a window edge (watermarks inherit the µs jitter of the
max event), so either comparison yields identical sets on this data.
"""

from __future__ import annotations

import sys
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.plans import query
from serverless_datalake_aws_spark.streaming.pipeline import drain as _drain

try:  # stateful-UDF closures must survive worker-side import (see
    # functions/semistructured.py for the cwd≠repo-root trap)
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, sharing the batch
    path's conf pins and ts-physical-type normalization
    (catalog.pin_parquet_confs / normalize_events_ts) so the streaming
    entries can never drift from the oracle-facing batch reads — the
    testdata's ts encoding has already flipped twice across rounds."""
    from serverless_datalake_aws_spark.catalog import (
        normalize_events_ts,
        pin_parquet_confs,
    )

    pin_parquet_confs(spark, events=True)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source needs a directory; scope it to the events
    # table with a glob (the F8 prefix-filter analogue)
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(stream)


@query(
    "st01_stream_hourly_counts",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 hour', min(ts)) + INTERVAL '1 hour'
           <= (SELECT w FROM wm)
    """,
)
def st01_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts as a real streaming query
    (file source → availableNow drain → memory sink). Append mode emits
    only watermark-closed windows — the streaming-only semantics the
    batch twin e01 can't express. The oracle replays that gate in SQL:
    windows whose end <= max(ts) - 2h (the final watermark)."""
    name = f"st01_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n", "total_value"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st03_stream_dedup",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def st03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with a bounded state store:
    dropDuplicatesWithinWatermark keeps each event_id's state only
    until the watermark passes it — the exactly-once upgrade of the
    reference's at-least-once S3-event delivery (SURVEY §2.9), with
    state that cannot grow unboundedly at 100 TB/day. Complete-mode
    output over a single drained batch equals the batch distinct
    count — the oracle."""
    name = f"st03_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        # dedup WITHIN type, matching the oracle's per-type DISTINCT:
        # a bare ["event_id"] dedup keeps one arbitrary winner
        # corpus-wide, so an id shared across types would credit a
        # nondeterministic type (vacuous on unique-id fixtures, wrong
        # the moment real duplicates appear)
        .dropDuplicatesWithinWatermark(["event_type", "event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


def _round4(x: float) -> float:
    """4dp HALF-AWAY-FROM-ZERO round on the exact binary value — what
    Spark's F.round and DuckDB's round() both compute. Python's builtin
    round() is banker's (half-EVEN), so rounding per-engine inside a
    stateful UDF with it is the recorded 'never re-round floats built
    per-engine' parity trap (0.15625 -> 0.1562 vs 0.1563)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def _user_stats_fn(key, pdfs, state):
    """Custom stateful operator body: accumulate (count, total) per
    user across micro-batches in GroupState, emit the running totals
    each batch. State and emission stay UNROUNDED (a per-batch re-round
    would compound); the query rounds once, JVM-side, at the end."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


@query(
    "st04_stateful_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def st04_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via applyInPandasWithState (SURVEY
    §2.9 'custom stateful operators'): a hand-written per-user
    accumulator in GroupState — the escape hatch for semantics the
    built-in windowed aggs can't express. State is per-key and
    Arrow-batched; the shuffle key (user_id) bounds state locality.
    Update mode emits each key's running totals once per batch it
    appears in; a single-file availableNow drain is one data batch, so
    the sink holds exactly the per-user batch aggregate — the oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    name = f"st04_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    # one JVM-side round (HALF_UP, matching the oracle) — never inside
    # the Python state fn, whose builtin round() is half-even
    return spark.table(name).select(
        "user_id", "n_events", F.round("total_value", 4).alias("total_value")
    )


@query(
    "st05_stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id, round(p.value, 4) AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
    """,
)
def st05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each
    'view' event joined to the same user's 'purchase' events within the
    following hour. Both sides carry watermarks, so the join state
    buffers at most (watermark horizon x key cardinality) rows — the
    bounded-state attribution join the reference's Lambda fabric could
    only fake with DynamoDB lookups (SURVEY §2.9). INNER join rows are
    emitted as matched (the watermark only bounds state, not output),
    so the drain equals the batch range-join — the oracle."""
    name = f"st05_{uuid.uuid4().hex[:8]}"
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        F.round("p_value", 4).alias("purchase_value"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st02_stream_sessions",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events),
    flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
           round(sum(value), 4) AS session_value
    FROM sessions
    GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL '30 minutes' <= (SELECT w FROM wm)
    """,
)
def st02_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window aggregation (30-min gap) as a streaming query —
    engine-managed keyed state, closed by the watermark. The oracle
    replays the engine's session semantics in SQL: gap >= 30 min starts
    a new session (session_window extends while the next event is
    strictly inside last_ts + gap), and append mode emits sessions
    whose end (last_ts + gap) <= the final watermark."""
    name = f"st02_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            F.col("win.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st06_stream_sliding_windows",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events),
    ev AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
               - k * INTERVAL '15 minutes' AS window_start,
               event_type
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           event_type, count(*) AS n
    FROM ev
    GROUP BY 1, 2, 3
    HAVING window_start + INTERVAL '1 hour' <= (SELECT w FROM wm)
    """,
)
def st06_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window counts — 1-hour windows advancing every
    15 minutes, so each event lands in 4 overlapping windows: the
    smoothed-rate view a monitoring pipeline layers over st01's
    tumbling counts. Watermark-gated append emits each window once,
    closed; state is bounded by (windows in watermark horizon) x
    event_types regardless of input volume."""
    name = f"st06_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st07_stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def st07_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (§2.9): the event stream joined to
    a static customer dimension — the streaming twin of J1 keyed
    enrichment (reference: per-object metadata get_item + combine,
    index-data-lambda.py:134-155, executed there as an N+1 loop per
    arriving file; here one broadcast join per micro-batch). The static side is re-read per micro-batch and
    broadcast (it's a dim), so the stream never shuffles.

    Unlike the watermarked entries, an availableNow drain of a
    stream-static INNER join emits exactly the batch-join rows — fully
    deterministic — so this entry carries a real value-level oracle,
    not just a rows-only check."""
    from serverless_datalake_aws_spark.catalog import table

    static_dim = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("mktsegment")
    )
    name = f"st07_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(static_dim), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "ts", "user_id", "event_type", "value", "mktsegment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st08_stream_left_enrich_stub",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           coalesce(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
           (c.c_custkey IS NULL) AS stubbed
    FROM events e
    LEFT JOIN (SELECT * FROM customer WHERE c_custkey < 100) c
      ON e.user_id = c.c_custkey
    """,
)
def st08_stream_left_enrich_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT-OUTER enrichment with a fallback stub — the
    reference's J1 semantics (missing metadata → stub row,
    index-data-lambda.py:134-155) executed as a stream: events whose
    dimension row is absent keep flowing with a coalesced default and a
    `stubbed` flag instead of being dropped. The dim is truncated to
    c_custkey < 100 so both match and stub paths exist in the output.

    Stream-static LEFT joins emit immediately (no watermark needed —
    the static side is complete per micro-batch), so an availableNow
    drain is deterministic and carries a full value oracle, like st07."""
    from serverless_datalake_aws_spark.catalog import table

    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_mktsegment")
    )
    name = f"st08_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"), "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("mktsegment"),
            F.col("c_custkey").isNull().alias("stubbed"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st09_stream_complete_counts",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def st09_stream_complete_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming aggregation — the third output
    mode (st01 demonstrates append, the CDC/upsert paths update): the
    sink holds the ENTIRE aggregate, re-emitted per batch, which is
    what live dashboards subscribe to. No watermark needed (state is
    the full aggregate), so an availableNow drain equals the batch
    aggregation exactly — full value oracle.

    Scale: complete mode's state is bounded by group cardinality
    (|event_type|), not stream length — the mode is only correct when
    that holds, which is exactly when you'd use it."""
    name = f"st09_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st10_stream_incremental_rollup",
    oracle="""
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_rows,
           -- the rollup carries its sums in DECIMAL(18,6) internally
           -- (order-independent absorption), but the RESULT is double:
           -- DuckDB .df() lowers DECIMAL to float64 while Spark
           -- toPandas yields decimal.Decimal, and external hash
           -- normalizers image those differently (rounds 6+8 reds)
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st10_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a persisted rollup: foreachBatch absorbs
    each micro-batch into a MaintainedRollup (operators/incremental.py),
    so the gold table is maintained as the stream lands instead of by a
    nightly recompute — the streaming twin of e17 and the repo's answer
    to the reference's full-rescan indexing cron. The input is sharded
    into 4 files drained one per trigger (maxFilesPerTrigger=1), so the
    merge path runs 4 times with arbitrary batch order; sums ride an
    exact DECIMAL image, making the result bit-identical regardless of
    which batch merged first (double partial sums would wobble in the
    last ulp). The oracle is the from-scratch recompute — equality IS
    the maintenance-correctness proof, per batch count.

    Scale: each micro-batch pays one map-side-combined pass over ITS
    rows plus a |groups|-row merge; history is never re-read."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedRollup,
    )

    work = tempfile.mkdtemp(prefix="st10_")
    try:
        src = f"{work}/events_shards"
        (
            table(spark, sf_dir, "events")
            .select(
                "event_type",
                F.date_trunc("day", "ts").alias("day"),
                F.col("value").cast("decimal(18,6)").alias("value"),
                "ts",
            )
            .repartition(4)
            .write.parquet(src)
        )
        rollup = MaintainedRollup(
            spark, f"{work}/rollup", keys=["event_type", "day"], measures=["value"]
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            # the epoch id makes absorption idempotent: foreachBatch
            # side effects are at-least-once, and a batch retry must
            # not double-merge (the round-6 driver hash mismatch)
            stream.writeStream.foreachBatch(
                lambda batch, eid: rollup.apply(batch, epoch_id=eid)
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            rollup.read()
            .select(
                "event_type",
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n_rows",
                # exact decimal internally; DOUBLE at the result surface
                # (no DecimalType may escape a registered query — see
                # tests/test_invariants.py)
                F.col("sum_value")
                .cast("decimal(18,6)")
                .cast("double")
                .alias("sum_value"),
                F.round(F.col("min_value").cast("double"), 6).alias("min_value"),
                F.round(F.col("max_value").cast("double"), 6).alias("max_value"),
            )
            .orderBy("event_type", "day")
        )
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "st11_stream_quality_monitor",
    oracle="""
    WITH sharded AS (
        SELECT event_id % 4 AS shard, user_id, value FROM events
    ),
    per_shard AS (
        SELECT shard,
               round(avg(CAST(user_id IS NOT NULL AS DOUBLE)), 6) AS c_user,
               round(CAST(count(*) AS DOUBLE), 6) AS n_rows,
               round(avg(CAST(coalesce(value >= 0, FALSE) AS DOUBLE)), 6)
                   AS nonneg_value
        FROM sharded GROUP BY shard
    )
    SELECT shard, check_name, value, passed FROM (
        SELECT shard, 'complete_user' AS check_name, c_user AS value,
               c_user >= 0.9 AS passed FROM per_shard
        UNION ALL
        SELECT shard, 'batch_rows', n_rows, n_rows >= 1.0 FROM per_shard
        UNION ALL
        SELECT shard, 'nonneg_value', nonneg_value, nonneg_value >= 0.0
        FROM per_shard
    ) ORDER BY shard, check_name
    """,
)
def st11_stream_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitoring: every micro-batch runs the
    m05 constraint engine (operators/quality.quality_report — one
    shared aggregation pass per batch) and appends its verdicts to a
    metrics table, the Deequ metrics-repository pattern as a stream.
    A quality regression in the feed surfaces one batch after it
    happens instead of at the next nightly audit.

    Batches are made SQL-replayable by sharding the input on
    `event_id % 4` (one file per shard, one file per trigger), so the
    oracle recomputes each batch's metrics exactly — full value
    parity for a streaming monitor, not just row counts.

    Scale: per batch the metrics pass is map-side combined (one row
    per partition shuffles); the metrics table grows by |checks| rows
    per batch regardless of batch size."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.quality import (
        Check,
        quality_report,
    )

    work = tempfile.mkdtemp(prefix="st11_")
    try:
        src = f"{work}/shards"
        ev = table(spark, sf_dir, "events").select(
            F.pmod(F.col("event_id"), F.lit(4)).cast("long").alias("shard"),
            "user_id",
            "value",
        )
        ev.repartition(4, "shard").write.partitionBy("shard").parquet(src)
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        metrics_path = f"{work}/metrics"
        checks = [
            Check("complete_user", "completeness", "user_id", at_least=0.9),
            Check("batch_rows", "row_count", at_least=1.0),
            Check(
                "nonneg_value",
                "compliance",
                predicate="value >= 0",
                at_least=0.0,
            ),
        ]

        def _monitor(batch: DataFrame, eid: int) -> None:
            if batch.isEmpty():
                return
            shard = batch.agg(F.min("shard")).collect()[0][0]
            (
                quality_report(batch, checks)
                .withColumn("shard", F.lit(shard).cast("long"))
                .select("shard", "check_name", "value", "passed")
                # per-epoch dir + overwrite makes the sink idempotent:
                # a batch retry rewrites ITS verdicts instead of
                # appending them twice (foreachBatch is at-least-once)
                .write.mode("overwrite")
                .parquet(f"{metrics_path}/epoch={eid}")
            )

        q = (
            stream.writeStream.foreachBatch(_monitor)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            spark.read.parquet(metrics_path)
            .select("shard", "check_name", "value", "passed")
            .orderBy("shard", "check_name")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "st12_stream_quantile_sketch",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sign,
               CASE WHEN value = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ceil(round(ln(abs(value)) / ln(1.02), 9)) AS BIGINT)
               END AS bin
        FROM events
        -- the Spark side (qh_partial) drops NULL/NaN values before
        -- binning; an unfiltered NULL here would form a phantom group
        -- that inflates n and shifts every ceil(q*n) rank
        WHERE value IS NOT NULL AND NOT isnan(value)),
    sketch AS (
        SELECT event_type, sign, bin, count(*) AS cnt FROM binned GROUP BY 1, 2, 3),
    reps AS (
        SELECT *, CASE WHEN sign = 0 THEN 0.0
                       ELSE sign * (2.0 / 2.02) * exp(bin * ln(1.02)) END AS rep
        FROM sketch),
    cum AS (
        SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY rep) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM reps),
    qs AS (SELECT unnest([0.5, 0.95]) AS q)
    SELECT event_type, q, round(min_by(rep, cum), 4) AS est
    FROM cum CROSS JOIN qs
    WHERE cum >= greatest(CAST(ceil(q * n) AS BIGINT), 1)
    GROUP BY event_type, q
    ORDER BY event_type, q
    """,
)
def st12_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of per-type quantiles — the sketch trio's
    third member under foreachBatch (st10 maintains sums+HLL, st11
    quality verdicts; this maintains the e21 log-histogram): each
    micro-batch folds map-side into (type, sign, bin, cnt) rows and
    MaintainedQuantiles merges them into the persisted sketch with the
    MaintainedRollup publish contract. Because the merge is exact
    integer bucket addition, the final estimates are bit-identical to
    the from-scratch sketch REGARDLESS of batch order — the oracle
    computes exactly that, and equality proves both the maintenance
    identity and the stream's exactly-once drain (a dropped or doubled
    batch shifts bucket counts and flips estimates).

    Scale: per batch one combine over ITS rows plus a ~|types|×700-row
    sketch merge; history never re-read; p50/p95 extraction windows
    over sketch rows only."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedQuantiles,
    )

    work = tempfile.mkdtemp(prefix="st12_")
    try:
        src = f"{work}/events_shards"
        (
            table(spark, sf_dir, "events")
            .select("event_type", "value")
            .repartition(4)
            .write.parquet(src)
        )
        mq = MaintainedQuantiles(
            spark, f"{work}/sketch", value_col="value", keys=["event_type"]
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: mq.apply(batch, epoch_id=eid)
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            mq.quantiles([0.5, 0.95])
            .select("event_type", "q", F.round("est", 4).alias("est"))
            .orderBy("event_type", "q")
        )
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "st13_stream_dedup_index",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fp
        FROM documents)
    SELECT fp,
           count(*) AS n_copies,
           min(doc_id) AS first_doc_id,
           count(*) > 1 AS is_dup
    FROM f GROUP BY fp ORDER BY fp
    """,
)
def st13_stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest: maintain the exact-dedup index AS THE DOCUMENT
    STREAM LANDS — each micro-batch folds its fingerprint partials
    (count + min doc_id per content hash) into the persisted index, so
    at any instant the lake knows every document's canonical survivor
    without ever re-scanning history. This is d01/d07's whole-corpus
    dedup turned into streaming maintenance (the st10-12 pattern, 4th
    member), and the shape every training-data ingest front-door runs:
    new crawl shards arrive continuously, and a doc is droppable at
    arrival iff its fingerprint is already in the index.

    Determinism contract: the maintained aggregates are ALGEBRAIC
    (count, min) — batch-order independent by construction — so the
    index is bit-identical however the stream was sharded, and the
    from-scratch SQL GROUP BY is the oracle (equality IS the
    maintenance-correctness proof). The input is split into 4 shards
    drained one per trigger to force multi-batch merging. Exactly-once
    does NOT come from the checkpoint — checkpointing makes batch
    *delivery* exactly-once while foreachBatch side effects stay
    at-least-once — it comes from the sink absorbing idempotently per
    epoch_id (operators/incremental._EpochStateStore).

    Scale: per batch one map-side-combined pass over the BATCH plus a
    |distinct fingerprints|-row merge; fingerprints are 32-char
    hashes, so the maintained state is ~50 B/distinct-doc regardless
    of document size (the text never leaves the ingest map stage)."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.functions import text as TX
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedRollup,
    )

    work = tempfile.mkdtemp(prefix="st13_")
    try:
        src = f"{work}/doc_shards"
        (
            table(spark, sf_dir, "documents")
            .select("doc_id", TX.fingerprint("text").alias("fp"))
            .repartition(4)
            .write.parquet(src)
        )
        index = MaintainedRollup(
            spark, f"{work}/dedup_index", keys=["fp"], measures=["doc_id"]
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: index.apply(batch, epoch_id=eid)
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            index.read()
            .select(
                "fp",
                F.col("n_rows").alias("n_copies"),
                F.col("min_doc_id").cast("long").alias("first_doc_id"),
                (F.col("n_rows") > 1).alias("is_dup"),
            )
            .orderBy("fp")
        )
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "st14_stream_maintained_join",
    oracle="""
    SELECT c.c_nationkey AS nation,
           count(*) AS n_orders,
           -- DECIMAL internally for order-independent absorption,
           -- DOUBLE at the result surface (cross-engine type image)
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def st14_stream_maintained_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a JOIN view — the 5th member of the
    maintenance family (st10 rollup, st11 quality, st12 quantiles,
    st13 dedup index): the customer dimension is seeded as the right
    snapshot, then the order feed streams in 4 shards (one per
    trigger) and each micro-batch absorbs via the delta-join identity
    (operators/incremental.MaintainedJoin) — only ΔL ⋈ R work per
    batch, the full join NEVER recomputed. Absorption is idempotent
    per epoch_id (epoch-partitioned overwrites + atomic pointer):
    a Spark batch retry overwrites its own epoch instead of appending
    duplicate view rows. The oracle is the from-scratch join,
    aggregated per nation — equality proves the maintained view holds
    exactly the join's content after multi-batch absorption.

    Scale: per batch one |Δorders|-driven join against the snapshot
    (broadcast/DPP-prunable at scale); the view append is
    epoch-partitioned, no read-modify-write. DECIMAL sums keep the
    aggregate bit-stable under any batch order."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedJoin,
    )

    work = tempfile.mkdtemp(prefix="st14_")
    try:
        src = f"{work}/order_shards"
        (
            table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                "o_custkey",
                F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            )
            .repartition(4)
            .write.parquet(src)
        )
        cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        mj = MaintainedJoin(spark, f"{work}/mj", on="__jk")
        # seed the dimension snapshot as epoch -1... epochs are the
        # STREAM's ids (0..3), so the seed uses the manual path first
        mj.apply(
            delta_right=cust.withColumnRenamed("c_custkey", "__jk"),
            epoch_id=None,
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: mj.apply(
                    delta_left=batch.withColumnRenamed("o_custkey", "__jk"),
                    # offset past the seed epoch: stream epochs start
                    # at 0 and the seed consumed 0 via the manual path
                    epoch_id=eid + 1,
                )
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            mj.read()
            .groupBy(F.col("c_nationkey").alias("nation"))
            .agg(
                F.count("*").alias("n_orders"),
                # exact decimal sum, then double at the result surface
                F.sum("o_totalprice")
                .cast("decimal(38,2)")
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("nation")
        )
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "st15_stream_minhash_index",
    oracle=__import__(
        "serverless_datalake_aws_spark.plans.dedup", fromlist=["_MINHASH_ORACLE"]
    )._MINHASH_ORACLE,
)
def st15_stream_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-on-ingest: the MinHash LSH index maintained AS THE
    DOCUMENT STREAM LANDS — each micro-batch sketches ITS docs (d04's
    exact shingle→minhash→band pipeline), probes the persisted band
    index for cross-batch candidates, self-joins within the batch,
    verifies with exact Jaccard ≥ 0.6, and appends its bands/shingles
    to the index — so every near-dup pair is known the moment its
    SECOND member arrives, without ever re-sketching history. This is
    st13's exact-dedup front door upgraded to NEAR-dup, the shape a
    crawl-ingest pipeline actually needs (new shards continuously
    deduped against the whole accumulated corpus).

    State rides EpochPartitionedTable (epoch-partitioned overwrites +
    atomic pointer), so absorption is idempotent per epoch — a Spark
    batch retry overwrites its own epoch's pairs/bands/toks instead of
    duplicating them; a crash mid-absorb leaves the uncommitted epoch
    invisible.

    Maintenance-correctness proof: each unordered pair surfaces
    exactly once (when its later shard arrives), so the union of
    per-epoch pair sets must equal d04's from-scratch result — the
    oracle IS d04's oracle string (the same SQL replay of the whole
    sketch pipeline), so the driver value-checks the maintained index
    against the batch ground truth.

    Scale: per batch the sketch pass is |batch|-local; the index probe
    shuffles (doc_id, band_key) rows only; the Jaccard verify reads
    history SHINGLES pruned to exactly the candidate doc_ids (the
    shingle table is hive-bucketed on pmod(doc_id, N), so the probe
    prunes partition dirs + row groups instead of re-scanning the
    corpus per batch — operators/stream_dedup.MinHashIngestIndex,
    measured before/after in SCALE.md "Round-11 (cont.): streaming
    near-dup ingest");
    index growth is |docs| × bands rows."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.stream_dedup import (
        MinHashIngestIndex,
    )

    work = tempfile.mkdtemp(prefix="st15_")
    try:
        src = f"{work}/doc_shards"
        (
            table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(4)
            .write.parquet(src)
        )
        index = MinHashIngestIndex(spark, f"{work}/state")

        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: index.absorb(batch, eid)
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = index.pairs()
        if out is None:
            return spark.createDataFrame(
                [], "doc1 long, doc2 long, jac double"
            )
        out = out.orderBy("doc1", "doc2")
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _top_user_fn(key, pdfs, state):
    """Map-valued GroupState body for st16: per event_type, maintain
    user_id -> (n, total) across micro-batches (encoded as parallel
    arrays — applyInPandasWithState state schemas are flat structs, so
    the map rides as array columns), emit the argmax-by-total user
    each batch. Ties break on the smaller user_id.

    The merge is fully vectorized (guide §4.2): state arrays + one
    groupby-sum per arriving pandas frame, concatenated and re-summed
    — the pre-r12 body walked every (user, batch-agg) row through
    iterrows + a Python dict, O(|users|) interpreter work per batch.
    Summation order per user is unchanged (state row first, then the
    frames in arrival order — pandas groupby.sum accumulates in row
    order), so the float image is the one the oracle sees."""
    import numpy as np

    frames = []
    if state.exists:
        uids0, ns0, totals0 = state.get
        frames.append(
            pd.DataFrame(
                {
                    "user_id": np.asarray(uids0, dtype=np.int64),
                    "n": np.asarray(ns0, dtype=np.int64),
                    "t": np.asarray(totals0, dtype=np.float64),
                }
            )
        )
    for pdf in pdfs:
        g = (
            pdf.groupby("user_id")["value"]
            .agg(["count", "sum"])
            .reset_index()
        )
        frames.append(
            pd.DataFrame(
                {
                    "user_id": g["user_id"].astype(np.int64),
                    "n": g["count"].astype(np.int64),
                    "t": g["sum"].astype(np.float64),
                }
            )
        )
    acc = (
        pd.concat(frames, ignore_index=True)
        .groupby("user_id", sort=True)[["n", "t"]]
        .sum()
    )
    u = acc.index.to_numpy(dtype=np.int64)
    n = acc["n"].to_numpy(dtype=np.int64)
    t = acc["t"].to_numpy(dtype=np.float64)
    state.update((u.tolist(), n.tolist(), t.tolist()))
    # the ROUNDED total is the rank key (oracle orders by round(sum,4))
    # and the round must be _round4's exact-decimal half-away — but
    # running Decimal per user would be the same O(|users|) Python
    # loop the merge just dropped. A vectorized double-precision
    # half-away round differs from the exact-decimal one by at most
    # one 1e-4 quantum, so every possible exact-argmax user sits
    # within 2e-4 of the vectorized max: shortlist there (normally a
    # handful of rows), then decide exactly with _round4. The window
    # was checked exhaustively for |t|·1e4 in 2**52..2**53, and above
    # that distinct totals lie > 1e-4 apart, so tied totals are equal
    # floats with equal r4v.
    r4v = np.floor(np.abs(t) * 1e4 + 0.5) / 1e4 * np.sign(t)
    cand = np.nonzero(r4v >= r4v.max() - 2e-4)[0]
    neg_r4, top_uid = min(
        (-_round4(float(t[i])), int(u[i])) for i in cand
    )
    top_i = int(np.nonzero(u == top_uid)[0][0])
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "top_user": [top_uid],
            "n_events": [int(n[top_i])],
            "total_value": [-neg_r4],
        }
    )


@query(
    "st16_stream_top_user_state",
    oracle="""
    SELECT event_type, user_id AS top_user, n AS n_events, total_value
    FROM (
      SELECT event_type, user_id, count(*) AS n,
             round(sum(value), 4) AS total_value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY round(sum(value), 4) DESC, user_id) AS rk
      FROM events GROUP BY event_type, user_id)
    WHERE rk = 1
    """,
)
def st16_stream_top_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming argmax with MAP-VALUED state: per event_type, an
    applyInPandasWithState accumulator keeps the full user -> (n,
    total) map (encoded as parallel array columns — GroupState schemas
    are flat structs) and emits the current biggest-spending user each
    batch. This is the state shape Spark 4's transformWithState
    MapState serves natively; that API's Python state protocol needs
    `google.protobuf`, which this container lacks (verified:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, ImportError in
    StateMessage_pb2), so the same semantics are expressed on the
    stable applyInPandasWithState seam — the documented-blocked
    pattern, with the Spark-native upgrade path named.

    Scale: state is per-key (event_type cardinality × active users),
    Arrow-batched, and the per-batch update is a pandas groupby over
    only that batch's rows — at 100 TB/day the shuffle carries
    (user_id, value) pairs, never payloads, and a production deploy
    would bound the map with a TTL timeout (GroupStateTimeout) or
    top-k truncation; the single availableNow drain here makes the
    emitted batch equal the batch aggregate — the oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    name = f"st16_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, sf_dir)
        .select("event_type", "user_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _top_user_fn,
            outputStructType=(
                "event_type string, top_user long, "
                "n_events long, total_value double"
            ),
            stateStructType=(
                "user_ids array<long>, ns array<long>, "
                "totals array<double>"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name)


@query(
    "st18_stream_observed_quality",
    oracle="""
    SELECT 'bad_props_json' AS metric,
           CAST(SUM(CASE WHEN props LIKE '{%' THEN 0 ELSE 1 END) AS BIGINT) AS value
    FROM events
    UNION ALL
    SELECT 'bad_value_range',
           CAST(SUM(CASE WHEN value >= 0.0 AND value < 50.0 THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'rows_total', CAST(COUNT(*) AS BIGINT) FROM events
    ORDER BY metric
    """,
)
def st18_stream_observed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream quality counters via DataFrame.observe: every
    micro-batch carries accumulator-backed counts (total rows + one
    violation count per rule) inside its OWN execution — zero extra
    passes over the data, unlike a foreachBatch monitor (st11) that
    re-aggregates the batch. The counters surface in
    StreamingQueryProgress.observedMetrics; this entry sums them
    across the drain's batches and returns the long-form totals,
    which must equal the oracle's from-scratch CASE-WHEN aggregate —
    proving the per-batch counters partition the corpus exactly
    (no row counted twice or dropped across batch boundaries).

    Rule semantics: a row is BAD when the predicate is not TRUE
    (violation or NULL) — `when(pred, 0).otherwise(1)` here, `CASE
    WHEN pred THEN 0 ELSE 1 END` in the oracle; identical NULL
    handling by construction.

    Scale: counters are in-path accumulator math (per-partition
    partials merged on the driver per batch); observability cost is
    O(#rules) longs per batch, independent of corpus size. See also
    engine.enable_stream_metrics() for the listener that persists
    these rows continuously."""
    from serverless_datalake_aws_spark.streaming.observability import (
        observe_quality,
    )

    name = f"st18_{uuid.uuid4().hex[:8]}"
    obs = observe_quality(
        _events_stream(spark, sf_dir).select("event_type", "value", "props"),
        {
            "value_range": "value >= 0.0 AND value < 50.0",
            "props_json": "props LIKE '{%'",
        },
    )
    q = (
        obs.writeStream.format("noop")
        .queryName(name)  # temp checkpoint: noop needs no reliable sink log
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    totals = {"rows_total": 0, "bad_value_range": 0, "bad_props_json": 0}
    for p in q.recentProgress:
        quality = (p.get("observedMetrics") or {}).get("quality")
        if quality:
            # a zero-row batch can report observed metrics with NULL
            # sums (SUM over nothing) — count it as zero, not a crash
            totals["rows_total"] += int(quality["rows"] or 0)
            totals["bad_value_range"] += int(quality["bad_value_range"] or 0)
            totals["bad_props_json"] += int(quality["bad_props_json"] or 0)
    return spark.createDataFrame(
        sorted(totals.items()), "metric string, value long"
    )


@query(
    "st19_stream_ivf_cell_index",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE vec_id < 8),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    sims AS (
        SELECT e.vec_id, c.cid,
               round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN 0
                     ELSE list_dot_product(c.cv, e.v)
                          / (sqrt(list_dot_product(c.cv, c.cv))
                             * sqrt(list_dot_product(e.v, e.v))) END,
                     6) AS sim
        FROM e CROSS JOIN c),
    assign AS (
        SELECT vec_id, cid, sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cid) AS rn
        FROM sims),
    cells AS (SELECT vec_id, cid, CAST(sim AS DECIMAL(18,6)) AS simd
              FROM assign WHERE rn = 1)
    SELECT cid, count(*) AS n_vecs,
           CAST(sum(simd) AS DOUBLE) AS sum_sim,
           CAST(min(simd) AS DOUBLE) AS min_sim,
           CAST(max(simd) AS DOUBLE) AS max_sim
    FROM cells GROUP BY cid ORDER BY cid
    """,
)
def st19_stream_ivf_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of an IVF vector index: embeddings land in
    micro-batches and each batch is coarse-quantized to its nearest of
    8 frozen centroids (s05's codebook convention — the first 8
    vectors) by the SAME map-only vectorized assign the batch IVF
    queries use, then absorbed into a MaintainedRollup keyed by cell —
    per-cell population and cohesion (cosine-to-centroid) stats stay
    fresh as the corpus streams in, instead of by a nightly re-index.
    This is the vector twin of st13/st15 (maintained dedup indexes):
    the index an ANN serving path probes is MAINTAINED BY the ingest
    stream, which is how a 100 TB embedding corpus keeps its IVF lists
    current without ever re-scanning history.

    Exactness: per-row cosines are rounded to 6 dp and ride a
    DECIMAL(18,6) image through the rollup merges, so per-cell sums
    are bit-identical regardless of which of the 4 micro-batches
    merged first (the st10 order-independence convention); the RESULT
    surfaces as double (no DecimalType may escape a registered query —
    tests/test_invariants.py). The oracle is the from-scratch batch
    assignment + aggregate; equality proves the maintained index
    equals a full re-index, per batch count.

    Scale: each micro-batch pays one Arrow-batched BLAS pass over ITS
    rows (the codebook rides the closure) plus a |cells|-row merge;
    embeddings never shuffle — only (cid, sim) pairs reach the rollup;
    history is never re-read. Centroid REFRESH (drifted codebook) is
    the s04/s09 k-means step composed on top, swapping the frozen
    codebook between epochs."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.functions import vector as VX
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedRollup,
    )

    emb = table(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    # element_at(cid+1) below indexes the literal codebook POSITIONALLY,
    # which is only the centroid lookup when the cids are exactly the
    # dense set 0..7 — assert it instead of silently pairing rows with
    # wrong centroids if the fixture's id space ever shifts
    if [cid for cid, _ in cent_rows] != list(range(len(cent_rows))):
        raise AssertionError(
            f"st19 expects dense centroid ids 0..{len(cent_rows) - 1}, "
            f"got {[cid for cid, _ in cent_rows]}"
        )
    cent_arrs = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in emb_vals])
            for _cid, emb_vals in cent_rows
        ]
    )
    cent_norms = F.array(
        *[
            F.lit(float(sum(float(x) * float(x) for x in emb_vals) ** 0.5))
            for _cid, emb_vals in cent_rows
        ]
    )

    def _assign_batch(batch: DataFrame) -> DataFrame:
        assigned = VX.nearest_centroid(batch, cent_rows)
        idx = (F.col("cid") + 1).cast("int")
        cv = F.element_at(cent_arrs, idx)
        cn = F.element_at(cent_norms, idx)
        sim = F.when(F.col("nrm") == 0.0, F.lit(0.0)).otherwise(
            VX.dot(F.col("embedding"), cv) / (F.col("nrm") * cn)
        )
        return assigned.select(
            "cid", F.round(sim, 6).cast("decimal(18,6)").alias("sim")
        )

    work = tempfile.mkdtemp(prefix="st19_")
    try:
        src = f"{work}/emb_shards"
        emb.select("vec_id", "embedding").repartition(4).write.parquet(src)
        rollup = MaintainedRollup(
            spark, f"{work}/cells", keys=["cid"], measures=["sim"]
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: rollup.apply(
                    _assign_batch(batch), epoch_id=eid
                )
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = (
            rollup.read()
            .select(
                "cid",
                F.col("n_rows").alias("n_vecs"),
                # exact decimal internally; DOUBLE at the result surface
                F.col("sum_sim").cast("decimal(18,6)").cast("double")
                .alias("sum_sim"),
                F.col("min_sim").cast("double").alias("min_sim"),
                F.col("max_sim").cast("double").alias("max_sim"),
            )
            .orderBy("cid")
        )
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_ST20_STRIDE = 256  # s18's seed convention: every 256th vec_id
_ST20_THR = 0.40  # within-cluster cosine threshold (s18's _EPS)


@query(
    "st20_stream_semantic_dedup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    seeds AS (SELECT vec_id AS cluster, e AS c, nrm AS cnrm
              FROM n WHERE vec_id % {_ST20_STRIDE} = 0),
    best AS (
      SELECT vec_id, cluster, e, nrm FROM (
        SELECT n.vec_id, s.cluster, n.e, n.nrm,
               round(list_dot_product(n.e, s.c) / (n.nrm * s.cnrm), 6) AS cs
        FROM n, seeds s)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cluster) = 1)
    SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos
    FROM best a JOIN best b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE a.nrm > 0 AND b.nrm > 0
      AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6)
          >= {_ST20_THR}
    ORDER BY vec1, vec2
    """,
)
def st20_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup on ingest — the EMBEDDING member of the
    maintained-dedup trio (st13 exact hashes, st15 MinHash text,
    st20 embedding cosine = SemDeDup's pair discovery as a stream):
    each embedding micro-batch cluster-assigns against s18's frozen
    stride seeds, probes the persisted per-cluster index for
    cross-batch ε-similar pairs, self-joins within the batch, and
    appends its vectors to the index — every semantic duplicate pair
    is known the moment its SECOND member arrives, history never
    re-embedded or re-scanned.

    State rides EpochPartitionedTable (st15's machinery): absorption
    idempotent per epoch, a crash mid-absorb leaves the uncommitted
    epoch invisible. Each unordered pair surfaces exactly once (when
    its later shard lands), so the union of per-epoch pair sets must
    equal the from-scratch SemDeDup pair set — the oracle replays
    s18's assignment + within-cluster pairwise cosine in SQL.

    Scale: the cluster key bounds the candidate join exactly as s18's
    clusters bound the batch op (cost Σ|c_batch|·|c_index|, never
    all-pairs), and the history side is PRUNED TO THE BATCH'S CLUSTERS
    before the scan (the vector state is hive-partitioned on cid and
    probed with literal cid filters — operators/stream_dedup.
    CosineIngestIndex — so untouched clusters' directories are never
    read); at production width feed the candidates through s18's
    per-cluster applyInPandas matmul instead of the expression-level
    dot used here at fixture scale."""
    import shutil
    import tempfile

    from serverless_datalake_aws_spark.catalog import table
    from serverless_datalake_aws_spark.operators.stream_dedup import (
        CosineIngestIndex,
    )

    work = tempfile.mkdtemp(prefix="st20_")
    try:
        emb = table(spark, sf_dir, "embeddings")
        seeds = [
            (r["vec_id"], r["embedding"])
            for r in emb.filter(F.col("vec_id") % _ST20_STRIDE == 0)
            .select("vec_id", "embedding")
            .collect()
        ]
        src = f"{work}/emb_shards"
        emb.select("vec_id", "embedding").repartition(4).write.parquet(src)
        index = CosineIngestIndex(
            spark, f"{work}/state", seeds, threshold=_ST20_THR
        )

        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, eid: index.absorb(batch, eid)
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 300)
        out = index.pairs()
        if out is None:
            return spark.createDataFrame(
                [], "vec1 long, vec2 long, cos double"
            )
        out = out.orderBy("vec1", "vec2")
        rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
