"""BM25 from index-side statistics: postings carry each document's
length `dl`, a per-document stats table gives N and Σdl, and a query
reads only the postings of its own tokens.

Every expected score here is computed in the test from the raw
payloads, independently of the engine's index and scorer."""

from __future__ import annotations

import math
import re
import shutil
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import serverless_datalake_aws_spark.engine as engine_mod
from serverless_datalake_aws_spark.engine import DataLakeEngine
from serverless_datalake_aws_spark.operators.metrics import WorkWindow
from tests.conftest import plan_of

NOTES = [
    {"msg": "spark spark spark"},
    {"msg": "spark plus many other words here to dilute length"},
    {"msg": "nothing relevant at all"},
    {"msg": "spark merge lake"},
    {"": "---"},  # no token: never searchable
]
LOGS = [
    {"line": "lake house spark"},
    {"line": "merge merge into the lake"},
    {"line": "delta lake delta"},
]
QUERIES = ["spark", "spark merge", "lake delta", "absent"]


def _tokens(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def bm25_oracle(docs: dict, query: str, data_type: str | None = None) -> list:
    """[(id, score, n_terms_matched)] in score order: Okapi BM25 with
    k1=1.2, b=0.75 over the documents of `data_type` (or all) that have
    a token. `docs` maps id -> (data_type, payload)."""
    k1, b = 1.2, 0.75
    scope = {
        i: Counter(_tokens(p))
        for i, (dt, p) in docs.items()
        if data_type in (None, dt) and _tokens(p)
    }
    if not scope:
        return []
    n = len(scope)
    avgdl = sum(sum(tf.values()) for tf in scope.values()) / n
    terms = set(_tokens(query))
    df = {t: sum(1 for tf in scope.values() if t in tf) for t in terms}
    out = []
    for i, tf in scope.items():
        hit = [t for t in terms if t in tf]
        if not hit:
            continue
        dl = sum(tf.values())
        score = sum(
            math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            * tf[t] * (k1 + 1)
            / (tf[t] + k1 * (1 - b + b * dl / avgdl))
            for t in hit
        )
        out.append((i, score, len(hit)))
    return sorted(out, key=lambda r: (-round(r[1], 6), r[0]))


def _payloads(eng) -> dict:
    return {
        r["id"]: (r["data_type"], r["payload"])
        for r in eng.records("raw").collect()
    }


def assert_scores_match(eng, docs, query, data_type=None):
    got = [
        (r["id"], r["score"], r["n_terms_matched"])
        for r in eng.search(query, data_type=data_type, rank="bm25").collect()
    ]
    want = bm25_oracle(docs, query, data_type)
    assert [(i, n) for i, _, n in got] == [(i, n) for i, _, n in want], (query, data_type)
    assert [s for _, s, _ in got] == pytest.approx([s for _, s, _ in want], abs=2e-6)


def _ingest(eng):
    eng.ingest_batch(NOTES, data_type="notes")
    eng.ingest_batch(LOGS, data_type="logs")


@pytest.mark.parametrize("build", ["index_cdc", "process"])
def test_bm25_scores_equal_payload_oracle(spark, tmp_path, build):
    """Two data_types, with and without the data_type filter, after
    index_cdc alone and after process() alone: scores and order equal
    BM25 computed from the payloads, with N and avgdl taken over the
    filtered scope."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    _ingest(eng)
    getattr(eng, build)()
    docs = _payloads(eng)
    for q in QUERIES:
        for dt in (None, "notes", "logs"):
            assert_scores_match(eng, docs, q, dt)
    # one stats row per document with a token
    stats = {
        r["id"]: (r["data_type"], r["dl"])
        for r in spark.read.parquet(eng.search_stats_path).collect()
    }
    assert stats == {
        i: (dt, len(_tokens(p))) for i, (dt, p) in docs.items() if _tokens(p)
    }


def test_bm25_converges_after_crash_between_postings_and_stats(
    spark, tmp_path, monkeypatch
):
    """A writer killed after the postings append and before the stats
    append: the redelivered batch finds its ids in the index and without
    stats rows, appends only the stats, and scores equal a clean lake's.
    Covers the first batch (the append that creates the index) and a
    later one; a redelivery of batches whose stats rows landed appends
    none again."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    real = engine_mod.append_rows

    def killed(spark_, path, rows, *a, **kw):
        if path == eng.search_stats_path:
            raise OSError("injected crash before the stats append")
        return real(spark_, path, rows, *a, **kw)

    for records, data_type in ((NOTES, "notes"), (LOGS, "logs")):
        eng.ingest_batch(records, data_type=data_type)
        monkeypatch.setattr(engine_mod, "append_rows", killed)
        with pytest.raises(Exception, match="injected crash"):
            eng.index_cdc()
        monkeypatch.undo()
        eng.index_cdc()
    # and every batch once more, stats rows and all (a lost checkpoint)
    shutil.rmtree(f"{eng.root}/_checkpoints/cdc_index")
    eng.index_cdc()
    docs = _payloads(eng)
    idx = eng.search_index()
    assert idx.groupBy("id", "token").count().filter("count > 1").count() == 0
    # converged by the redelivery itself, before any search could reindex
    stats = [(r["id"], r["dl"]) for r in spark.read.parquet(eng.search_stats_path).collect()]
    assert sorted(stats) == sorted((i, len(_tokens(p))) for i, (_, p) in docs.items() if _tokens(p))

    clean = DataLakeEngine(spark, tmp_path / "clean")
    _ingest(clean)
    clean.index_cdc()
    clean_docs = _payloads(clean)

    def by_payload(e, d, q, dt):
        return sorted(
            (d[r["id"]][1], r["score"], r["n_terms_matched"])
            for r in e.search(q, data_type=dt, rank="bm25").collect()
        )

    for q in QUERIES:
        for dt in (None, "notes"):
            assert_scores_match(eng, docs, q, dt)
            assert by_payload(eng, docs, q, dt) == by_payload(clean, clean_docs, q, dt)


def test_bm25_search_runs_at_most_three_jobs_with_one_exchange(spark, tmp_path):
    """search(..., rank="bm25") built and collected inside one
    WorkWindow: at most 3 Spark jobs, with or without the data_type
    filter. The plan scans only the query's tokens and shuffles once,
    into one partition."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    _ingest(eng)
    eng.index_cdc()
    eng.search("spark", rank="bm25").collect()  # warm
    for dt in (None, "notes"):
        with WorkWindow(spark) as w:
            rows = eng.search("spark merge", data_type=dt, rank="bm25").collect()
        assert rows
        assert w.work()["jobs"] <= 3, (dt, w.work())
    plan = plan_of(eng.search("spark merge", rank="bm25"), "simple")
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert "PushedFilters: [In(token," in plan, plan


@pytest.mark.parametrize("copies", [1, 3])
def test_stats_read_driver_payload_is_nine_bytes_per_document(
    spark, tmp_path, monkeypatch, copies
):
    """The stats read's driver payload: one pyarrow read of the `dl`
    column of the scope's stats rows, at most 9 bytes per document in
    scope — pinned at two lake sizes, with and without the data_type
    filter."""
    import pyarrow.parquet as pq

    eng = DataLakeEngine(spark, tmp_path / "lake")
    for _ in range(copies):
        _ingest(eng)
        eng.index_cdc()
    docs = _payloads(eng)
    reads = []
    real = pq.read_table

    def recorded(*a, **kw):
        t = real(*a, **kw)
        reads.append(t)
        return t

    monkeypatch.setattr(pq, "read_table", recorded)
    for dt in (None, "notes", "logs"):
        reads.clear()
        eng.search("spark", data_type=dt, rank="bm25").collect()
        n_docs = sum(
            1 for d, p in docs.values() if dt in (None, d) and _tokens(p)
        )
        assert n_docs == copies * {None: 7, "notes": 4, "logs": 3}[dt]
        assert [t.column_names for t in reads] == [["dl"]]
        assert reads[0].num_rows == n_docs
        # an 8-byte dl and its validity bit per document
        assert 8 * n_docs <= reads[0].nbytes <= 9 * n_docs


def _write_legacy_index(eng):
    """The postings as written before they carried `dl`, and no stats
    table: (data_type, id, token, tf) only."""
    eng.records("raw").select(
        "data_type",
        "id",
        F.explode(F.split(F.lower("payload"), "[^a-z0-9]+")).alias("token"),
    ).filter(F.col("token") != "").groupBy("data_type", "id", "token").agg(
        F.count("*").alias("tf")
    ).write.partitionBy("data_type").parquet(eng.search_index_path)


def test_index_without_stats_is_reindexed_once_by_bm25(spark, tmp_path, monkeypatch):
    """An index written before this layout (postings without `dl`, no
    stats table): index_cdc keeps appending postings but writes no
    partial stats table, tf search works as before, and the first BM25
    search runs the full reindex once, after which scores equal the
    payload oracle and later searches reindex nothing."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    eng.ingest_batch(NOTES, data_type="notes")
    _write_legacy_index(eng)
    eng.ingest_batch(LOGS, data_type="logs")
    eng.index_cdc()
    assert not Path(eng.search_stats_path).exists()
    assert eng.search("lake").count() == 4
    calls = []
    real = eng._rebuild_search_index
    monkeypatch.setattr(eng, "_rebuild_search_index", lambda: calls.append(1) or real())
    docs = _payloads(eng)
    for q in QUERIES:
        assert_scores_match(eng, docs, q)
    assert_scores_match(eng, docs, "lake", "logs")
    assert len(calls) == 1
    assert eng.search_index().filter(F.col("dl").isNull()).count() == 0


def test_reindex_that_dies_before_publishing_stats_is_redone(spark, tmp_path, monkeypatch):
    """process() killed after rewriting the postings and before the
    stats table is published leaves no stats table (never a stale or
    partial one), so the next BM25 search reindexes and scores right."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    _ingest(eng)
    eng.index_cdc()
    eng.ingest_batch([{"msg": "spark again and again"}], data_type="notes")
    real = eng._fs_path

    class DiesAtRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, *a):
            raise OSError("injected crash before the stats publish")

    monkeypatch.setattr(eng, "_fs_path", lambda p: (DiesAtRename(real(p)[0]), real(p)[1]))
    with pytest.raises(OSError, match="injected crash"):
        eng.process()
    monkeypatch.undo()
    assert not Path(eng.search_stats_path).exists()
    docs = _payloads(eng)
    for q in QUERIES:
        assert_scores_match(eng, docs, q)


def test_process_stamps_from_stats_and_skips_stamp_when_nothing_pending(
    spark, tmp_path, monkeypatch
):
    """process() stamps exactly the pending ids the reindex wrote stats
    for (a tokenless record stays unstamped); with nothing pending it
    does not stamp and runs fewer jobs than with ids pending."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    _ingest(eng)
    with WorkWindow(spark) as pending:
        eng.process()
    docs = _payloads(eng)
    indexed = {r["id"]: bool(r["indexed"]) for r in eng.meta().collect()}
    assert indexed == {i: bool(_tokens(p)) for i, (_, p) in docs.items()}

    def no_stamp(*a, **kw):
        raise AssertionError("stamped with nothing pending")

    eng.index_cdc()  # the tokenless record: stamped by the append step
    monkeypatch.setattr(eng, "_mark_indexed", no_stamp)
    with WorkWindow(spark) as idle:
        eng.process()
    assert idle.work()["jobs"] <= pending.work()["jobs"] - 3
    assert idle.work()["jobs"] < 12


def test_remote_bm25_reads_totals_with_spark(spark, tmp_path):
    """Over a URI root, N and Σdl come from a Spark aggregate of the
    stats table, and an index without one is reindexed without the
    zone lock: scores equal the payload oracle both times."""
    eng = DataLakeEngine(spark, f"file://{tmp_path}/lake")
    assert eng.is_remote
    _ingest(eng)
    eng.process()
    docs = _payloads(eng)
    for dt in (None, "logs"):
        assert_scores_match(eng, docs, "spark merge", dt)
    shutil.rmtree(tmp_path / "lake" / "_search_stats")
    assert_scores_match(eng, docs, "lake delta")
    assert (tmp_path / "lake" / "_search_stats").exists()
