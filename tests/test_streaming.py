"""Structured Streaming tests (SURVEY §2.9): file-arrival promotion
stream, watermarked windows, session windows, exactly-once checkpoint
semantics."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_datalake_aws_spark.streaming.pipeline import (
    stream_promote,
    stream_sessionize,
    stream_windowed_counts,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_ndjson(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(r) for r in rows))


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_stream_promote_exactly_once(spark, tmp_path):
    raw = tmp_path / "raw"
    processed = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(raw / "f1.json", [{"id": "a", "v": 1}, {"id": "b", "v": 2}])

    q = stream_promote(spark, str(raw), processed, ckpt, RECORD_SCHEMA)
    q.awaitTermination(120)
    out = spark.read.parquet(processed)
    assert out.count() == 2
    assert "processed_timestamp" in out.columns

    # second drain with no new files: checkpoint prevents reprocessing
    q = stream_promote(spark, str(raw), processed, ckpt, RECORD_SCHEMA)
    q.awaitTermination(120)
    assert spark.read.parquet(processed).count() == 2

    # new file arrives → only its rows are appended
    _write_ndjson(raw / "f2.json", [{"id": "c", "v": 3}])
    q = stream_promote(spark, str(raw), processed, ckpt, RECORD_SCHEMA)
    q.awaitTermination(120)
    assert spark.read.parquet(processed).count() == 3


def test_stream_promote_transform_hook(spark, tmp_path):
    raw = tmp_path / "raw"
    _write_ndjson(raw / "f1.json", [{"id": "a", "v": 10}])
    q = stream_promote(
        spark,
        str(raw),
        str(tmp_path / "processed"),
        str(tmp_path / "ckpt"),
        RECORD_SCHEMA,
        transform=lambda df: df.withColumn("v2", F.col("v") * 2),
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "processed")).first()["v2"] == 20


def test_stream_windowed_counts(spark, tmp_path):
    events = tmp_path / "events"
    _events_df(
        spark,
        [
            ("2024-01-01 10:05:00", 1, "click", 1.0),
            ("2024-01-01 10:45:00", 1, "click", 2.0),
            ("2024-01-01 11:05:00", 2, "view", 3.0),
            ("2024-01-01 23:00:00", 1, "click", 4.0),  # advances watermark
        ],
    ).write.parquet(str(events))
    q = stream_windowed_counts(
        spark, str(events), EVENTS_SCHEMA, query_name="wc_test"
    )
    q.awaitTermination(120)
    out = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM wc_test").collect()
    }
    # append mode emits only watermark-closed windows (10:00, 11:00)
    assert out[("2024-01-01T10:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01T11:00:00", "view")] == (1, 3.0)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join (§2.9): streaming events enriched against a
    static dimension — the streaming twin of the J1 enrichment join."""
    events = tmp_path / "ev"
    _events_df(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "click", 1.0),
            ("2024-01-01 10:05:00", 2, "view", 2.0),
            ("2024-01-01 10:10:00", 3, "click", 3.0),  # no dim row → left join null
        ],
    ).write.parquet(str(events))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string"
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .load(str(events))
        .join(dim, "user_id", "left")
        .select("user_id", "event_type", "tier")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r["tier"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {1: "gold", 2: "basic", 3: None}


def test_stream_sessionize(spark, tmp_path):
    events = tmp_path / "events"
    _events_df(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "click", 1.0),
            ("2024-01-01 10:10:00", 1, "click", 2.0),  # same session (gap 10m)
            ("2024-01-01 11:30:00", 1, "click", 4.0),  # new session (gap 80m)
            ("2024-01-02 09:00:00", 1, "click", 0.0),  # watermark pusher
        ],
    ).write.parquet(str(events))
    q = stream_sessionize(spark, str(events), EVENTS_SCHEMA, query_name="ss_test")
    q.awaitTermination(120)
    rows = sorted(
        spark.sql("SELECT * FROM ss_test WHERE user_id = 1").collect(),
        key=lambda r: r["session_start"],
    )
    closed = [(r["n_events"], r["session_value"]) for r in rows]
    assert (2, 3.0) in closed  # the 10:00-10:10 session
    assert (1, 4.0) in closed  # the 11:30 session


def test_stream_promote_continuous_trigger(spark, tmp_path):
    """Always-on mode (VERDICT r5 item 6): a processingTime-triggered
    stream must pick up files dropped MID-FLIGHT — the reference's
    continuous S3->Lambda fabric (deploy-script.sh:112-131) — without
    a restart, and leave a valid checkpoint behind on stop()."""
    import time

    raw = tmp_path / "raw"
    processed = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(raw / "f1.json", [{"id": "a", "v": 1}])

    q = stream_promote(
        spark, str(raw), processed, ckpt, RECORD_SCHEMA,
        trigger={"processingTime": "1 second"},
    )
    try:
        # drop N more files while the query is live
        deadline = time.time() + 60
        for i in range(2, 5):
            _write_ndjson(raw / f"f{i}.json", [{"id": f"x{i}", "v": i}])
            time.sleep(1.0)
        # all 4 rows must surface without any restart
        while time.time() < deadline:
            try:
                if spark.read.parquet(processed).count() == 4:
                    break
            except Exception:
                pass  # sink dir not created yet
            time.sleep(1.0)
        assert spark.read.parquet(processed).count() == 4
        ids = {r["id"] for r in spark.read.parquet(processed).collect()}
        assert ids == {"a", "x2", "x3", "x4"}
    finally:
        q.stop()

    # checkpoint survives the stop: an availableNow drain afterwards
    # reprocesses NOTHING (exactly-once across trigger modes)
    q2 = stream_promote(spark, str(raw), processed, ckpt, RECORD_SCHEMA)
    q2.awaitTermination(120)
    assert spark.read.parquet(processed).count() == 4


def test_index_cdc_continuous_trigger(spark, tmp_path):
    """Always-on CDC (VERDICT r6 item 7): a processingTime-triggered
    index_cdc must pick up ingests that land MID-FLIGHT — the
    reference's continuous DynamoDB-stream fabric — without a restart,
    and an availableNow drain afterwards must reprocess nothing."""
    import time

    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, tmp_path / "lake")
    eng.ingest_batch([{"text": "alpha one"}], data_type="t1")
    q = eng.index_cdc(trigger={"processingTime": "1 second"})
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if "alpha" in {
                    r["token"] for r in eng.search_index().collect()
                }:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        # a NEW ingest lands while the query is live
        eng.ingest_batch([{"text": "bravo two"}], data_type="t1")
        while time.time() < deadline:
            try:
                toks = {r["token"] for r in eng.search_index().collect()}
                if "bravo" in toks:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        toks = {r["token"] for r in eng.search_index().collect()}
        assert {"alpha", "bravo"} <= toks  # mid-flight file indexed live
    finally:
        q.stop()
    # checkpoint survives: drain mode afterwards adds nothing
    n = eng.search_index().count()
    eng.index_cdc()
    assert eng.search_index().count() == n


def test_curate_incremental_continuous_trigger(spark, tmp_path):
    """Always-on gold-zone maintenance: the daily summary absorbs a
    mid-flight ingest without restart."""
    import time

    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, tmp_path / "lake")
    eng.ingest_batch([{"x": 1}, {"x": 2}], data_type="t1")
    out = f"{eng.zone('curated')}/daily_summary"
    q = eng.curate_incremental(trigger={"processingTime": "1 second"})
    try:
        deadline = time.time() + 60

        def _n():
            try:
                return sum(
                    r["n_records"]
                    for r in spark.read.parquet(out).collect()
                )
            except Exception:
                return 0

        while time.time() < deadline and _n() < 2:
            time.sleep(0.5)
        assert _n() == 2
        eng.ingest_batch([{"x": 3}], data_type="t2")  # mid-flight
        while time.time() < deadline and _n() < 3:
            time.sleep(0.5)
        assert _n() == 3
    finally:
        q.stop()
    # drain mode afterwards absorbs nothing new (checkpoint shared)
    total = {
        (r["data_type"], r["ingest_date"]): r["n_records"]
        for r in eng.curate_incremental().collect()
    }
    assert sum(total.values()) == 3


def test_top_user_fn_vectorized_matches_reference(spark):
    """st16's r12-vectorized GroupState body must reproduce the old
    iterrows/dict semantics exactly: multi-batch merge order, state
    round-trip arrays sorted by user_id, argmax on the EXACT _round4
    image with uid tie-break (including totals that straddle a 1e-4
    rounding boundary and negative totals)."""
    import math

    import pandas as pd

    from serverless_datalake_aws_spark.plans.streaming_queries import (
        _round4,
        _top_user_fn,
    )

    class FakeState:
        def __init__(self, triple=None):
            self._t = triple

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

    def reference(prev, frames):
        acc = dict(prev or {})
        for pdf in frames:
            g = pdf.groupby("user_id")["value"].agg(["count", "sum"])
            for uid, row in g.iterrows():
                n, t = acc.get(int(uid), (0, 0.0))
                acc[int(uid)] = (n + int(row["count"]), t + float(row["sum"]))
        top = min(acc.items(), key=lambda kv: (-_round4(kv[1][1]), kv[0]))
        return acc, top

    # ties on the rounded image (0.15625 rounds to 0.1563 exactly at
    # the half boundary), values straddling the quantum, negatives
    b1 = pd.DataFrame(
        {"user_id": [1, 2, 3, 1], "value": [0.15625, 0.15625, -5.0, 0.0]}
    )
    b2 = pd.DataFrame(
        {"user_id": [2, 3, 4], "value": [0.00004, 5.0, 0.15629]}
    )
    st = FakeState(
        ([1, 4], [2, 1], [0.1, 0.00001])
    )
    out = list(_top_user_fn(("click",), iter([b1, b2]), st))[0]
    prev = {1: (2, 0.1), 4: (1, 0.00001)}
    acc, top = reference(prev, [b1, b2])
    uids = sorted(acc)
    assert st.get[0] == uids
    assert st.get[1] == [acc[u][0] for u in uids]
    assert st.get[2] == [acc[u][1] for u in uids]
    assert out["top_user"][0] == top[0]
    assert out["n_events"][0] == top[1][0]
    assert out["total_value"][0] == _round4(top[1][1])
    # no-state single-batch path (the declared query's shape)
    st2 = FakeState()
    out2 = list(_top_user_fn(("view",), iter([b1]), st2))[0]
    acc2, top2 = reference(None, [b1])
    assert out2["top_user"][0] == top2[0]
    assert out2["total_value"][0] == _round4(top2[1][1])
    assert st2.get[0] == sorted(acc2)
    # large magnitude (|t|·1e4 past 2**52): users 5 and 6 tie exactly
    # at ...0.0313, yet the vectorized round puts 5 a quantum below
    # (its t·1e4 sits on a half boundary float64 rounds to even) and 6
    # a quantum above — the shortlist must still reach user 5
    big = 450_400_000_000 + 1 / 32
    b3 = pd.DataFrame(
        {"user_id": [6, 5, 7], "value": [math.nextafter(big, math.inf), big, -big]}
    )
    st3 = FakeState()
    out3 = list(_top_user_fn(("buy",), iter([b3]), st3))[0]
    acc3, top3 = reference(None, [b3])
    assert out3["top_user"][0] == top3[0] == 5
    assert out3["total_value"][0] == _round4(top3[1][1])
