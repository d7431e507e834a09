"""MERGE INTO on versioned tables (sources/versioning.merge_versioned):
Delta's whenMatched/whenNotMatched trio with file-level copy-on-write —
unaffected files must be hard-linked (same inode), never rewritten."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.sources.versioning import (
    current_version,
    merge_versioned,
    read_versioned,
    read_versioned_asof,
    version_history,
    write_versioned,
)


def _table(spark, n=1000, files=8):
    return (
        spark.range(0, n)
        .select("id", (F.col("id") * 10).alias("v"))
        .repartitionByRange(files, "id")
    )


def _rows(spark, root, version=None):
    return {
        (r["id"], r["v"])
        for r in read_versioned(spark, root, version).collect()
    }


def test_merge_update_insert_upsert(spark, tmp_path):
    root = tmp_path / "t"
    write_versioned(_table(spark), root)
    src = spark.createDataFrame([(5, -1), (2000, -2)], "id long, v long")
    v = merge_versioned(spark, root, src, "id")
    assert v == 2
    got = _rows(spark, root)
    assert (5, -1) in got and (2000, -2) in got
    assert (5, 50) not in got
    assert len(got) == 1001  # 1000 originals - 1 updated + 1 inserted


def test_merge_is_file_level_cow(spark, tmp_path):
    """Keys 0..9 live in the first range file only; the other 7 files
    must be hard-linked into v2 (same inode), not rewritten."""
    root = tmp_path / "t"
    write_versioned(_table(spark), root)
    src = spark.createDataFrame([(3, -1)], "id long, v long")
    merge_versioned(spark, root, src, "id")
    v1_files = {
        f.name: f.stat().st_ino
        for f in (root / "_v=1").glob("*.parquet")
    }
    v2 = list((root / "_v=2").glob("*.parquet"))
    linked = [f for f in v2 if f.name.startswith("reused-")]
    assert len(linked) == 7  # 8 range files, exactly 1 rewritten
    for f in linked:
        orig = f.name.split("-", 2)[2]
        assert f.stat().st_ino == v1_files[orig]  # same inode = no copy


def test_merge_collects_one_stats_row_per_file(spark, tmp_path, monkeypatch):
    """The footer stats merge_versioned collects to the driver are the
    key column's only: one row per file whatever the table's width. A
    3-column and an 8-column table with the same file count collect the
    same number of stats rows, and the two merges agree."""
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect
    stats_rows: list[int] = []

    def recording_collect(self):
        rows = collect(self)
        if {"file", "column", "min_v", "max_v"} <= set(self.columns):
            stats_rows.append(len(rows))
        return rows

    merged = []
    for width in (3, 8):
        extra = [(F.col("id") + i).alias(f"c{i}") for i in range(width - 2)]
        root = tmp_path / f"w{width}"
        write_versioned(_table(spark).select("id", "v", *extra), root)
        n_files = len(list((root / "_v=1").glob("*.parquet")))
        assert n_files == 8
        src = spark.createDataFrame(
            [(5, -1), (2000, -2)], "id long, v long"
        ).select("id", "v", *extra)
        stats_rows.clear()
        with monkeypatch.context() as mp:
            mp.setattr(frame, "collect", recording_collect)
            merge_versioned(spark, root, src, "id")
        assert stats_rows == [n_files], width
        merged.append(_rows(spark, root))
    assert merged[0] == merged[1]
    assert (5, -1) in merged[0] and (2000, -2) in merged[0]
    assert len(merged[0]) == 1001


def test_merge_delete(spark, tmp_path):
    root = tmp_path / "t"
    write_versioned(_table(spark), root)
    src = spark.createDataFrame([(5, 0), (6, 0)], "id long, v long")
    merge_versioned(spark, root, src, "id", matched="delete", not_matched="ignore")
    got = _rows(spark, root)
    assert len(got) == 998
    assert not any(k in (5, 6) for k, _ in got)


def test_merge_keep_insert_no_duplicates(spark, tmp_path):
    """matched=keep + not_matched=insert: a source row whose key exists
    must NOT be inserted again (the round-8 self-review bug)."""
    root = tmp_path / "t"
    write_versioned(_table(spark), root)
    src = spark.createDataFrame([(5, -1), (3000, -3)], "id long, v long")
    merge_versioned(spark, root, src, "id", matched="keep")
    got = _rows(spark, root)
    assert (5, 50) in got and (5, -1) not in got  # target kept, no dup
    assert (3000, -3) in got
    assert len(got) == 1001


def test_merge_update_ignore(spark, tmp_path):
    root = tmp_path / "t"
    write_versioned(_table(spark), root)
    src = spark.createDataFrame([(5, -1), (3000, -3)], "id long, v long")
    merge_versioned(spark, root, src, "id", not_matched="ignore")
    got = _rows(spark, root)
    assert (5, -1) in got and (3000, -3) not in got
    assert len(got) == 1000


def test_merge_delete_everything_stays_readable(spark, tmp_path):
    root = tmp_path / "t"
    write_versioned(_table(spark, n=20, files=2), root)
    src = spark.range(0, 20).select("id", F.lit(0).cast("long").alias("v"))
    merge_versioned(spark, root, src, "id", matched="delete", not_matched="ignore")
    df = read_versioned(spark, root)
    assert df.count() == 0
    assert set(df.columns) == {"id", "v"}


def test_merge_unborn_table_inserts(spark, tmp_path):
    root = tmp_path / "t"
    src = spark.createDataFrame([(1, 10)], "id long, v long")
    assert merge_versioned(spark, root, src, "id") == 1
    assert _rows(spark, root) == {(1, 10)}
    with pytest.raises(FileNotFoundError):
        merge_versioned(
            spark, tmp_path / "t2", src, "id", not_matched="ignore"
        )


def test_merge_preserves_history_and_asof(spark, tmp_path):
    root = tmp_path / "t"
    write_versioned(_table(spark, n=50, files=2), root)
    t_between = time.time()
    time.sleep(0.05)
    src = spark.createDataFrame([(1, -1)], "id long, v long")
    merge_versioned(spark, root, src, "id")
    assert current_version(root) == 2
    assert (1, 10) in _rows(spark, root, version=1)  # old version intact
    hist = version_history(root)
    assert [v for v, _ in hist] == [1, 2]
    old = read_versioned_asof(spark, root, t_between)
    assert (1, 10) in {(r["id"], r["v"]) for r in old.collect()}


def test_merge_string_key(spark, tmp_path):
    root = tmp_path / "t"
    df = spark.range(0, 100).select(
        F.format_string("k%04d", "id").alias("k"), F.col("id").alias("v")
    ).repartitionByRange(4, "k")
    write_versioned(df, root)
    src = spark.createDataFrame([("k0050", -5), ("knew", -9)], "k string, v long")
    merge_versioned(spark, root, src, "k")
    got = {(r["k"], r["v"]) for r in read_versioned(spark, root).collect()}
    assert ("k0050", -5) in got and ("knew", -9) in got and len(got) == 101


def test_engine_merge_wrapper(spark, tmp_path):
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, str(tmp_path / "lake"))
    eng.publish_versioned("dim", _table(spark, n=30, files=2))
    src = spark.createDataFrame([(2, -2)], "id long, v long")
    assert eng.merge_versioned("dim", src, "id") == 2
    got = {(r["id"], r["v"]) for r in eng.read_versioned("dim").collect()}
    assert (2, -2) in got and len(got) == 30


def test_merge_timestamp_key_updates_not_duplicates(spark, tmp_path):
    """Zone-map overlap must canonicalize temporal keys the way the
    stats index does (unix micros) — a bare double cast (seconds)
    missed every file, silently re-inserting matched keys."""
    import datetime as dt

    from serverless_datalake_aws_spark.sources.versioning import (
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    base = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i) for i in range(20)],
        "ts timestamp, v long",
    )
    root = tmp_path / "t"
    write_versioned(base.repartitionByRange(3, "ts"), root)
    updates = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i + 100) for i in (3, 7)],
        "ts timestamp, v long",
    )
    merge_versioned(spark, root, updates, key="ts")
    out = read_versioned(spark, root)
    assert out.count() == 20  # updated in place, never duplicated
    got = {r["v"] for r in out.filter("v >= 100").collect()}
    assert got == {103, 107}
