"""Footer stats on the driver (sources/stats.collect_file_stats) and the
callers that use them: `merge_versioned`, `analyze` and `maintain()`.

The footers are read with pyarrow on the driver and returned as an
arrow local relation, so the stats layer runs no Spark job of its own
(`operators/metrics.WorkWindow` counts them), and its driver payload is
bounded by the file count.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.engine import DataLakeEngine
from serverless_datalake_aws_spark.operators.metrics import WorkWindow
from serverless_datalake_aws_spark.sources import stats as S
from serverless_datalake_aws_spark.sources.versioning import (
    merge_versioned,
    read_versioned,
    write_versioned,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return DataLakeEngine(spark, str(tmp_path / "lake"))


def _ingest(lake, n_batches):
    for i in range(n_batches):
        lake.ingest_batch([{"n": i, "pad": "x" * 64}], data_type="sales")


def _table(spark, root, n_files):
    write_versioned(
        spark.range(0, 1200)
        .select("id", (F.col("id") * 10).alias("v"), F.lit("x").alias("tag"))
        .repartitionByRange(n_files, "id"),
        root,
    )


def test_footer_stats_run_no_spark_job(spark, tmp_path):
    """Building, filtering and collecting the stats relation launch no
    Spark job (and so no Python worker)."""
    root = tmp_path / "t"
    _table(spark, root, 6)
    with WorkWindow(spark) as w:
        rows = (
            S.collect_file_stats(spark, root / "_v=1")
            .filter(F.col("column") == "id")
            .collect()
        )
    assert len(rows) == 6
    assert w.work()["jobs"] == 0


@pytest.mark.parametrize("n_files", [4, 12])
def test_driver_payload_bounds(spark, tmp_path, monkeypatch, n_files):
    """The footer pass holds #files × #top-level columns rows on the
    driver, and merge_versioned keeps one key row per file."""
    root = tmp_path / "t"
    _table(spark, root, n_files)
    files = S.list_parquet_files(root / "_v=1")
    assert len(files) == n_files
    footer = S.collect_file_stats(spark, root / "_v=1").collect()
    assert len(footer) == n_files * 3
    assert {(r["file"], r["column"]) for r in footer} == {
        (f, c) for f in files for c in ("id", "v", "tag")
    }

    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect
    stats_rows: list[int] = []

    def recording_collect(self):
        rows = collect(self)
        if {"file", "column", "min_v", "max_v"} <= set(self.columns):
            stats_rows.append(len(rows))
        return rows

    src = spark.createDataFrame(
        [(5, -1, "u"), (5000, -2, "u")], "id long, v long, tag string"
    )
    with monkeypatch.context() as mp:
        mp.setattr(frame, "collect", recording_collect)
        merge_versioned(spark, root, src, "id")
    assert stats_rows == [n_files]
    assert read_versioned(spark, root).count() == 1201


def test_merge_job_count_pinned(spark, tmp_path):
    """A 100-key upsert into a 2,000-row, 8-file table (the lake
    benchmark's curated shape) runs at most 11 Spark jobs. A footer
    pass brought back as a Spark job would add jobs here."""
    root = tmp_path / "curated"
    write_versioned(
        spark.range(0, 2000, 1, 8).selectExpr(
            "id AS k", "CAST(id % 997 AS DOUBLE) AS amount", "'c0' AS tag"
        ),
        root,
    )
    jobs = []
    for start in (0, 1000):
        src = spark.createDataFrame(
            [(k, -1.0, "u") for k in range(start, start + 200, 2)],
            "k long, amount double, tag string",
        )
        with WorkWindow(spark) as w:
            merge_versioned(spark, root, src, "k")
        jobs.append(w.work()["jobs"])
    assert max(jobs) <= 11, jobs
    assert read_versioned(spark, root).filter("amount = -1").count() == 200


def test_maintain_stats_refresh_runs_no_spark_job(lake, spark):
    """With stale stats and no zone past the compaction threshold,
    maintain() reads the index's file column and rewrites the index on
    the driver: no Spark job."""
    _ingest(lake, 4)
    lake.analyze("raw")
    lake.ingest_batch([{"n": 99}], data_type="logs")
    with WorkWindow(spark) as w:
        report = lake.maintain()
    assert report["compacted"] == {}
    assert report["stats_refreshed"]["raw"] == 5
    assert w.work()["jobs"] == 0


def test_analyze_publishes_new_index_before_removing_old(lake, monkeypatch):
    """A re-analyze lists its new index file before it removes any old
    one, so a concurrent reader never finds `_stats/<zone>` empty; two
    runs in a row leave one stats row per (file, column)."""
    _ingest(lake, 3)
    lake.analyze("raw")
    stats_dir = Path(lake.stats_path) / "raw"
    first = set(S.list_parquet_files(stats_dir))
    new_at_removal = []
    unlink = Path.unlink

    def spy(self, missing_ok=False):
        if self.parent == stats_dir and self.suffix == ".parquet":
            new_at_removal.append(set(S.list_parquet_files(stats_dir)) - first)
        unlink(self, missing_ok=missing_ok)

    with monkeypatch.context() as mp:
        mp.setattr(Path, "unlink", spy)
        assert lake.analyze("raw") == 3
    assert len(new_at_removal) == len(first) and all(new_at_removal)
    keys = [(r["file"], r["column"]) for r in lake.file_stats("raw").collect()]
    assert keys and len(keys) == len(set(keys))
    assert {f for f, _ in keys} == set(S.list_parquet_files(lake.zone("raw")))


def test_analyze_empty_zone_leaves_readable_index(lake):
    """A zone with no files leaves an index directory with no file in
    it; reading it gives an empty stats table."""
    _ingest(lake, 2)
    lake.analyze("raw")
    for f in S.list_parquet_files(lake.zone("raw")):
        Path(f).unlink()
    assert lake.analyze("raw") == 0
    assert lake.file_stats("raw").collect() == []
